package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Direct specs for the IVF-PQ format functions on hand-built frames:
  * the probe order, the ADC fold order, the codebook geometry check and
  * the recall audit's integers. The end-to-end parity of the family
  * (q278 = q273's raw arm, q280 = q276's frozen arm, ...) lives in
  * IndexArtifactSpec. */
class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private val cents: IvfPq.Centroids =
    Array(2L -> Seq(0.0, 1.0), 5L -> Seq(1.0, 0.0), 9L -> Seq(-1.0, 0.0))

  private def probed(x: Seq[Double], n: Int): Seq[Long] =
    Seq(x).toDF("x").select(IvfPq.probes(cents, col("x"), n))
      .head().getSeq[Long](0)

  test("probes: nearest first, equal cosines list the smaller cid first") {
    // (1, 1) is exactly as close to cid 2 as to cid 5
    assert(probed(Seq(1.0, 1.0), 2) == Seq(2L, 5L))
    assert(probed(Seq(1.0, 0.5), 2) == Seq(5L, 2L))
    assert(probed(Seq(1.0, 1.0), 1) == Seq(2L))
  }

  test("probes: n past the codebook size lists every cid") {
    assert(probed(Seq(1.0, 1.0), 10) == Seq(2L, 5L, 9L))
  }

  test("adcScore folds coarse-first, left-associated") {
    // coarse = 1e16 and two unit terms: ((1e16 + 1) + 1) rounds to 1e16
    // both times, while 1e16 + (1 + 1) is 1e16 + 2
    val c = Array(0L -> Seq(1e16, 0.0, 0.0, 0.0))
    val books: IvfPq.Books = Seq(
      Seq(0L -> Seq(3.0, 4.0), 1L -> Seq(1.0, 5.0)),
      Seq(0L -> Seq(1.0, 7.0), 1L -> Seq(2.0, 2.0)))
    val row = Seq((Seq(1.0, 0.0, 1.0, 0.0), 0L, 1L, 0L))
      .toDF("qx", "cid", "c0", "c1")
    val got = row.select(IvfPq.adcScore(col("qx"), c, books),
        IvfPq.adcTerms(col("qx"), books).reduceLeft(_ + _))
      .head()
    val (coarse, t0, t1) = (1e16, 1.0, 1.0)
    assert((coarse + t0) + t1 != coarse + (t0 + t1))
    assert(got.getDouble(0) == (coarse + t0) + t1)
    assert(got.getDouble(1) == t0 + t1)
  }

  test("codeword widths must agree") {
    val ragged: IvfPq.Books = Seq(Seq(0L -> Seq(1.0, 2.0)), Seq(0L -> Seq(1.0)))
    intercept[IllegalArgumentException](IvfPq.adcTerms(col("qx"), ragged))
  }

  test("recallAudit: integers and 6-digit recall, unprobed GT counted") {
    // query 1: three candidates, the second-best unprobed
    val q1 = Seq((1L, 11L, 0.9, 0.1, true), (1L, 12L, 0.8, 0.3, false),
      (1L, 13L, 0.7, 0.2, true))
    // query 2: twelve candidates ranked 1..12 by cos, ADC reversed, id 3
    // unprobed: exact top-10 = 1..10, probed ADC top-10 =
    // {12, 11, 10, 9, 8, 7, 6, 5, 4, 2}, so 8 hits
    val q2 = (1L to 12L).map(n =>
      (2L, n, 1.0 - n / 100.0, n / 100.0, n != 3L))
    val scored = (q1 ++ q2)
      .toDF("query_id", "neighbor_id", "cos", "adc", "probed")
    val got = IvfPq.recallAudit(scored, "adc").orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == Seq((1L, 2L, 3L, 2L, 0.666667), (2L, 11L, 10L, 8L, 0.8)))
  }
}
