package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, DotProductOffset, NearestCosineCentroid,
  NearestL2Code}

/** The IVF-PQ format, written once. A coarse codebook `cents` (cid →
  * unit centroid) partitions the corpus into lists; per list, the
  * residual x − centroid[cid] is product-quantized against M
  * per-subspace `books` (code → sub-codeword), giving the encoded row
  * (cid, c0..cM-1). Every face of the index — q273's inline audit,
  * q276/q283's frozen and rebuilt arms, the q277–q284 artifact and the
  * streaming encode sink — trains, assigns, encodes, probes, scores and
  * audits through the functions here, so the codebook layout, the
  * probe order and the ADC fold order are known in this one file.
  *
  * Column conventions: an encoded frame carries its list id as `cid`
  * and its codes as `c0`..`c{M-1}`; [[adcScore]] reads those names. A
  * scored frame for [[recallAudit]] carries `query_id`, `neighbor_id`,
  * the exact `cos`, the serving score and the boolean `probed`.
  *
  * M and the subspace width are read off the books themselves (q273's
  * whitened space uses a different geometry from the raw one), with a
  * `require` that every codeword has the same width. */
object IvfPq {
  import Similarity.{NProbe, PqGrid, PqK, PqRounds, TopK}

  /** Coarse codebook: (cid, centroid), ascending cid. */
  type Centroids = Array[(Long, Seq[Double])]

  /** PQ books: per subspace, (code, sub-codeword), ascending code. */
  type Books = Seq[Seq[(Long, Seq[Double])]]

  /** (M, subspace width) of `books`. */
  private def geometry(books: Books): (Int, Int) = {
    val widths = books.flatMap(_.map(_._2.size)).distinct
    require(widths.size == 1,
      s"IvfPq: every codeword must have one width, got ${widths.sorted}")
    (books.size, widths.head)
  }

  /** The centroid of each row's list `cid`, as a literal-map lookup. */
  private def centroidOf(cents: Centroids): Column =
    element_at(typedlit(cents.toMap), col("cid"))

  /** Fused native argmax over a literal codebook — bit-equal to
    * `-sort_array(ivfScores(...), desc)(0)("ncid")` (same cosine
    * kernel, Spark's NaN-safe double total order, ties to the
    * smallest cid) without K struct allocations + an interpreted
    * struct sort per row (guide §4; measured dominant in every
    * assignment/Lloyd/encode stage at K=16). */
  private[ext] def assign(cents: Seq[(Long, Seq[Double])],
      v: Column): Column =
    NearestCosineCentroid.nearest_cos_centroid(v, cents)

  /** `src` (vec_id, x) plus its nearest coarse centroid `cid` and the
    * residual `rv` = x − centroid[cid] — the input every residual-PQ
    * trainer ([[train]]) reads. */
  private[ext] def residuals(cents: Centroids, src: DataFrame): DataFrame =
    src.withColumn("cid", assign(cents.toSeq, col("x")))
      .withColumn("rv",
        zip_with(col("x"), centroidOf(cents), (a, b) => a - b))

  /** Struct array of (cos to each centroid, -cid); sort_array desc picks
    * highest cos with SMALLEST cid on ties (matching ORDER BY cos DESC,
    * cid). */
  private def ivfScores(cents: Centroids, v: Column): Column =
    array(cents.toSeq.map { case (cid, cv) =>
      struct(Similarity.cosine(v, typedlit(cv)).as("cos"),
        lit(-cid).as("ncid"))
    }: _*)

  /** The cids of the `n` lists nearest `x`, nearest first (highest
    * cosine, smallest cid on ties); every cid when `n` exceeds the
    * codebook. Callers `explode` it, or `posexplode` it for the probe
    * rank. */
  private[ext] def probes(cents: Centroids, x: Column, n: Int): Column =
    transform(slice(sort_array(ivfScores(cents, x), asc = false), 1, n),
      s => -s("ncid"))

  /** The M compressed residual terms of the ADC score,
    * Σ_s dot(qx_s, books(s)(c_s)), ascending subspace. The offset-dot
    * kernel reads qx's subspace window in place: no per-(pair ×
    * subspace) slice allocation on the scoring scan, same ascending
    * fold as dot ∘ slice (bit-equal). q111's cosine ADC (no coarse
    * term) sums these alone. */
  private[ext] def adcTerms(qx: Column, books: Books): Seq[Column] = {
    val (m, sub) = geometry(books)
    (0 until m).map { s =>
      DotProductOffset.dot_product_off(qx, s * sub,
        element_at(typedlit(books(s).toMap), col(s"c$s")))
    }
  }

  /** IVFADC (Jégou et al., PAMI 2011): the exact coarse term
    * dot(qx, centroid[cid]) plus the [[adcTerms]], added coarse-first
    * then ascending subspace, left-associated — the order both engines
    * execute. Grouping the terms any other way is a different IEEE
    * sum. */
  private[ext] def adcScore(qx: Column, cents: Centroids,
      books: Books): Column =
    (DotProduct.dot_product(qx, centroidOf(cents)) +: adcTerms(qx, books))
      .reduceLeft(_ + _)

  /** The code columns `c0`..`c{M-1}`: per subspace, the nearest
    * sub-codeword by SQUARED L2 to the residual's window, ties to the
    * smallest code. Not cosine: residuals contain exact zeros by
    * construction (every centroid's own residual), cosine is NaN
    * there, and Spark and DuckDB order NaN differently; squared L2 is
    * total on finite inputs and its in-order fold is bit-equal across
    * engines (the IVFADC formulation, Jégou et al.). With `base`
    * the residual x − base subtracts inside the argmin kernel (no
    * zip_with rv column, no slice/struct-sort per row — the same two
    * subtractions in the same order as materializing rv, see
    * NearestL2Code); without it `x` is the residual already. */
  private def codes(x: Column, base: Option[Column],
      books: Books): Seq[Column] = {
    val (m, sub) = geometry(books)
    (0 until m).map { s =>
      base.fold(NearestL2Code.nearest_l2_code(x, s * sub, books(s)))(b =>
        NearestL2Code.nearest_l2_code_residual(x, b, s * sub, books(s)))
        .as(s"c$s")
    }
  }

  /** Codes of a frame whose residual `rv` is already materialized. */
  private[ext] def residualCodes(books: Books): Seq[Column] =
    codes(col("rv"), None, books)

  /** Assign + encode a normalized (vec_id, x) frame under FROZEN
    * quantizers into (`keep`, cid, c0..cM-1), the residual fused into
    * the code kernel — the map-only incremental-maintenance kernel
    * (q276's frozen arm, q280/q284's arrival encode, the streaming
    * encode sink). At 100 TB this one batch-sized scan IS the entire
    * maintenance cost of the frozen index. The audits keep the id and
    * the vector under their serving names. */
  private[graft] def encode(cents: Centroids, books: Books, e: DataFrame,
      keep: Seq[Column] = Seq(col("vec_id"))): DataFrame =
    e.withColumn("cid", assign(cents.toSeq, col("x")))
      .select(keep ++ Seq(col("cid")) ++
        codes(col("x"), Some(centroidOf(cents)), books): _*)

  /** The q273 probe protocol over one index: the `queries` (vec_id,
    * x) probe [[Similarity.NProbe]] lists each, the encoded corpus
    * `enc` is scored against them ([[scoreProbed]]), and
    * [[recallAudit]] ranks the probed side by ADC. */
  private[ext] def probeAudit(enc: DataFrame, queries: DataFrame,
      cents: Centroids, books: Books): DataFrame = {
    val qs = queries.select(col("vec_id").as("query_id"), col("x").as("qx"))
    val probeList = queries.select(col("vec_id").as("query_id"),
      explode(probes(cents, col("x"), NProbe)).as("pcid"))
    recallAudit(scoreProbed(enc, qs, probeList, cents, books)
      .withColumn("probed", col("pcid").isNotNull), "adc")
  }

  /** Score an encoded corpus `enc` (neighbor_id, cx, cid, codes)
    * against the broadcast query batch `qs` (query_id, qx): the exact
    * `cos` (GT side) and the [[adcScore]] `adc` (serving side) per
    * (query, neighbor ≠ query) pair, with the probe list joined on
    * ([[joinProbes]]). */
  private[ext] def scoreProbed(enc: DataFrame, qs: DataFrame,
      probes: DataFrame, cents: Centroids, books: Books): DataFrame =
    joinProbes(
      enc.join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("cid"),
          Similarity.cosine(col("qx"), col("cx")).as("cos"),
          adcScore(col("qx"), cents, books).as("adc")),
      probes)

  /** Left-join the broadcast probe list `probes` (query_id, pcid, ...)
    * to (query_id, cid)-keyed candidates: `pcid` is null where the
    * query did not probe the candidate's list. */
  private[ext] def joinProbes(scored: DataFrame,
      probes: DataFrame): DataFrame =
    scored
      .join(broadcast(probes.withColumnRenamed("query_id", "p_qid")),
        col("query_id") === col("p_qid") && col("cid") === col("pcid"),
        "left_outer")
      .drop("p_qid")

  /** The recall audit's rank step: `r_ex`, each candidate's rank by
    * exact cosine within its query, and `r_<serveScore>`, its rank by
    * the serving score within the query's probed (or unprobed) side.
    * Ties break by neighbor_id (the q13 discipline). */
  private[ext] def recallRanks(scored: DataFrame,
      serveScore: String): DataFrame =
    scored
      .withColumn("r_ex", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      .withColumn(s"r_$serveScore", row_number().over(
        Window.partitionBy(col("query_id"), col("probed"))
          .orderBy(col(serveScore).desc, col("neighbor_id"))).cast("long"))

  /** Per query: `scanned_rows` (probed candidates), `gt_k` (exact
    * top-[[TopK]] candidates), `hits` (exact top-k candidates the
    * probed side also ranks top-k by `serveScore`) and `recall`, their
    * ratio to 6 digits. All but the ratio are integers. */
  private[ext] def recallAudit(scored: DataFrame,
      serveScore: String): DataFrame = {
    val k = TopK.toLong
    recallRanks(scored, serveScore).groupBy("query_id").agg(
        sum(when(col("probed"), 1L).otherwise(0L)).as("scanned_rows"),
        sum(when(col("r_ex") <= k, 1L).otherwise(0L)).as("gt_k"),
        sum(when(col("probed") && col(s"r_$serveScore") <= k &&
          col("r_ex") <= k, 1L).otherwise(0L)).as("hits"))
      .select(col("query_id"), col("scanned_rows"), col("gt_k"),
        col("hits"),
        round(col("hits").cast("double") / col("gt_k").cast("double"), 6)
          .as("recall"))
  }

  /** Batched residual-PQ book trainer over tagged (vec_id, rv) frames
    * with their (M, subspace width): per tag the EXACT q273/q276 fold
    * — literal seeds from the first [[Similarity.PqK]] residuals, then
    * per Lloyd round one nearest-L2 assignment + integer-grid mean per
    * (subspace, code, dim) — but the seed collect and each round's
    * stats collect cover ALL tags as ONE tagged-union Spark job, so a
    * two-space/two-arm query pays 2 driver round-trips instead of 4
    * and the per-tag stages run concurrently inside one job (guide
    * §1.2 / §2.6). Per-tag values are bit-identical to the sequential
    * trainer: every group key carries its tag and the grid sums are
    * order-free BIGINT folds. The one Scala residual-PQ Lloyd loop:
    * q273 (raw + whitened spaces), q276/q283 (frozen + rebuilt arms)
    * and, with one tag, the q277/q280 index-artifact generation builds
    * (`IndexArtifact.build`) all train here. */
  private[ext] def train(arms: Seq[(String, DataFrame, Int, Int)])
      : Map[String, Books] = {
    val seedRows = arms.map { case (tag, tr, _, _) =>
      tr.filter(col("vec_id") < PqK)
        .select(lit(tag).as("tag"), col("vec_id"), col("rv"))
    }.reduce(_ unionAll _).collect()
    val seedsBy = arms.map { case (tag, _, _, _) =>
      tag -> seedRows.filter(_.getString(0) == tag)
        .map(r => r.getLong(1) -> r.getSeq[Double](2))
        .sortBy(_._1).toSeq
    }.toMap
    var booksBy: Map[String, Books] =
      arms.map { case (tag, _, m, sub) =>
        tag -> (0 until m).map { s =>
          seedsBy(tag).map { case (cid, rv) =>
            cid -> rv.slice(s * sub, s * sub + sub).toSeq }
        }
      }.toMap
    for (_ <- 1 to PqRounds) {
      val stats = arms.map { case (tag, tr, m, sub) =>
        val books = booksBy(tag)
        // codegen'd argmin kernel over the rv window (no slice/struct/
        // sort allocations — bit-equal to the struct-sort argmin,
        // measured 2.3× on this stats job); the sv slice stays for the
        // posexplode payload only
        val subs = (0 until m).map { s =>
          struct(lit(s).as("s"),
            NearestL2Code.nearest_l2_code(
              col("rv"), s * sub, books(s)).as("cid"),
            slice(col("rv"), s * sub + 1, sub).as("sv"))
        }
        tr.select(explode(array(subs: _*)).as("sub"))
          .select(col("sub.s").as("s"), col("sub.cid").as("cid"),
            posexplode(col("sub.sv")).as(Seq("i", "x")))
          .groupBy("s", "cid", "i")
          .agg(sum(round(col("x") * PqGrid, 0).cast("long")).as("sx"),
            count(lit(1)).as("n"))
          .select(lit(tag).as("tag"), col("s"), col("cid"), col("i"),
            col("sx"), col("n"))
      }.reduce(_ unionAll _).collect()
      booksBy = arms.map { case (tag, _, m, _) =>
        val mine = stats.filter(_.getString(0) == tag)
        tag -> (0 until m).map { s =>
          mine.filter(_.getInt(1) == s).groupBy(_.getLong(2))
            .map { case (cid, rows) =>
              cid -> rows.sortBy(_.getInt(3))
                .map(r => r.getLong(4).toDouble / (r.getLong(5) * PqGrid))
                .toSeq
            }.toSeq.sortBy(_._1)
        }
      }.toMap
    }
    booksBy
  }
}
