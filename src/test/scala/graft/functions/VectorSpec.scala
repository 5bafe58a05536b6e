package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Direct specs for the IVF-PQ kernels: `dot_product_off`,
  * `nearest_l2_code[_residual]` and `nearest_cos_centroid`. Each must
  * give the same answer through whole-stage codegen and through the
  * interpreted `eval`, break NaN and ±0.0 ties exactly like the
  * struct-sort idiom it replaced, propagate nulls, and refuse an empty
  * codebook when the column is built. */
class VectorSpec extends SparkSpec {
  import spark.implicits._

  // cids 1 and 7 share a codeword; cid 0's infinity makes its distance
  // NaN against an infinite input while the others stay finite or
  // infinite, so NaN meets non-NaN in both scan orders
  private val book: Seq[(Long, Seq[Double])] = Seq(
    0L -> Seq(Double.PositiveInfinity, 0.0), 1L -> Seq(0.0, 1.0),
    3L -> Seq(1.0, 0.0), 4L -> Seq(-1.0, 0.0), 7L -> Seq(0.0, 1.0))

  // vectors of width 4 (two 2-wide subspaces) with ties, signed zeros,
  // NaN and infinities in them
  private val vecs: Seq[Seq[Double]] = Seq(
    Seq(0.5, 0.5, 1.0, 2.0),
    Seq(0.0, -0.0, -0.0, 0.0),
    Seq(-0.0, 0.0, 0.0, -0.0),
    Seq(1.0, 1.0, -1.0, -1.0),
    Seq(Double.NaN, 0.0, 0.0, 1.0),
    Seq(Double.NaN, Double.NaN, Double.NaN, Double.NaN),
    Seq(Double.PositiveInfinity, 0.0, 1.0, Double.NegativeInfinity),
    Seq(1e-300, -1e-300, 3.0, -4.0))

  /** Rows (id, v, base, b): every vector against every other as base
    * and as the dot product's second side. Built from an RDD so the
    * projection runs in the physical plan, not in the optimizer's
    * local-relation folding. */
  private def frame: DataFrame = {
    val rows = for {
      (v, i) <- vecs.zipWithIndex
      (w, j) <- vecs.zipWithIndex
    } yield (i * 100L + j, v, w, w.take(2))
    spark.sparkContext.parallelize(rows, 2).toDF("id", "v", "base", "b")
  }

  private def kernels: Seq[Column] =
    (0 to 2).flatMap { off =>
      Seq(DotProductOffset.dot_product_off(col("v"), off, col("b")),
        NearestL2Code.nearest_l2_code(col("v"), off, book),
        NearestL2Code.nearest_l2_code_residual(col("v"), col("base"), off,
          book))
    } ++ Seq(NearestCosineCentroid.nearest_cos_centroid_off(col("v"), 2,
        book))

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Collected rows, ordered by id, plus whether whole-stage codegen
    * compiled the projection. */
  private def run(df: DataFrame): (Seq[Row], Boolean) =
    (df.orderBy("id").collect().toSeq,
      df.queryExecution.executedPlan.collectFirst {
        case w: WholeStageCodegenExec => w }.isDefined)

  /** Field-wise equality that tells NaN from NaN-free and -0.0 from
    * 0.0 (`Double.compare`), unlike `==` on rows. */
  private def sameValues(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
        case (x, y) => x == y
      }
    }

  test("codegen and interpreted eval agree bit for bit") {
    val cols = col("id") +: kernels
    // AQE off, so the executed plan shows its codegen stages
    val (gen, compiled) = withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.codegen.wholeStage" -> "true")(
      run(frame.select(cols: _*)))
    val (interp, compiledToo) = withConf(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(
      run(frame.select(cols: _*)))
    assert(compiled && !compiledToo)
    assert(gen.size == vecs.size * vecs.size)
    gen.zip(interp).foreach { case (g, i) =>
      assert(sameValues(g, i), s"codegen $g vs interpreted $i")
    }
  }

  /** The squared-L2 argmin idiom the code kernel replaced. */
  private def structSortL2(v: Column, off: Int): Column =
    sort_array(array(book.map { case (cid, cv) =>
      struct(
        aggregate(zip_with(slice(v, off + 1, cv.size), typedlit(cv),
          (a, b) => (a - b) * (a - b)), lit(0.0), (s, x) => s + x).as("d"),
        lit(cid).as("cid"))
    }: _*), asc = true)(0)("cid")

  /** The cosine argmax idiom the centroid kernel replaced. */
  private def structSortCos(v: Column): Column =
    -sort_array(array(book.map { case (cid, cv) =>
      struct(CosineSimilarity.cosine_sim(v, typedlit(cv)).as("cos"),
        lit(-cid).as("ncid"))
    }: _*), asc = false)(0)("ncid")

  test("NaN and signed-zero ties break like the struct-sort idiom") {
    val rows = frame.select(
      Seq(col("id")) ++ (0 to 2).flatMap { off =>
        Seq(NearestL2Code.nearest_l2_code(col("v"), off, book),
          structSortL2(col("v"), off),
          NearestL2Code.nearest_l2_code_residual(col("v"), col("base"),
            off, book),
          structSortL2(zip_with(col("v"), col("base"), (a, b) => a - b),
            off))
      } ++ Seq(NearestCosineCentroid.nearest_cos_centroid(
          slice(col("v"), 3, 2), book),
        structSortCos(slice(col("v"), 3, 2))): _*)
      .orderBy("id").collect()
    rows.foreach { r =>
      (1 until r.length by 2).foreach { i =>
        assert(r.getLong(i) == r.getLong(i + 1),
          s"id ${r.getLong(0)} column $i: kernel ${r.getLong(i)} " +
            s"vs struct sort ${r.getLong(i + 1)}")
      }
    }
  }

  test("offset dot equals dot of the slice, fold for fold") {
    val rows = frame.select(col("id"),
        DotProductOffset.dot_product_off(col("v"), 1, col("b")),
        aggregate(zip_with(slice(col("v"), 2, 2), col("b"), (a, b) => a * b),
          lit(0.0), (s, x) => s + x))
      .collect()
    rows.foreach(r => assert(sameValues(Row(r.get(1)), Row(r.get(2))),
      s"id ${r.getLong(0)}: ${r.get(1)} vs ${r.get(2)}"))
  }

  test("a null base or vector gives a null code on both paths") {
    val df = spark.sparkContext.parallelize(Seq(
        (1L, Some(Seq(1.0, 0.0)), Option.empty[Seq[Double]]),
        (2L, Option.empty[Seq[Double]], Some(Seq(1.0, 0.0))),
        (3L, Some(Seq(1.0, 0.0)), Some(Seq(1.0, 0.0)))), 1)
      .toDF("id", "v", "base")
      .select(col("id"),
        NearestL2Code.nearest_l2_code_residual(col("v"), col("base"), 0,
          book).as("c"))
    def codes: Seq[Option[Long]] = df.orderBy("id").collect().toSeq
      .map(r => if (r.isNullAt(1)) None else Some(r.getLong(1)))
    val want = Seq(None, None, Some(1L))
    assert(withConf("spark.sql.codegen.wholeStage" -> "true")(codes) == want)
    assert(withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(codes) == want)
  }

  test("an empty codebook is refused when the column is built") {
    val empty = Seq.empty[(Long, Seq[Double])]
    intercept[IllegalArgumentException](
      NearestL2Code.nearest_l2_code(col("v"), 0, empty))
    intercept[IllegalArgumentException](
      NearestL2Code.nearest_l2_code_residual(col("v"), col("base"), 0, empty))
    intercept[IllegalArgumentException](
      NearestCosineCentroid.nearest_cos_centroid(col("v"), empty))
    intercept[IllegalArgumentException](
      NearestCosineCentroid.nearest_cos_centroid_off(col("v"), 0, empty))
  }
}
