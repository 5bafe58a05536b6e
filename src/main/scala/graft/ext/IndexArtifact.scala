package graft.ext

import java.nio.file.{Files, Paths}

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType,
  LongType, StructType}

/** Index-as-artifact: train ONCE, serve MANY (round-11 verdict #3).
  *
  * Every ANN query so far retrains its codebooks inline — right for a
  * self-contained audit, wrong as the serving story at 100 TB, where
  * the index is a BUILD artifact: the expensive training/encode scans
  * run once per corpus version, and query traffic is served from the
  * persisted tables without ever re-deriving them. This module
  * materializes q273's raw-space IVF-PQ index (trained fixed-[[
  * Similarity.IvfK]] coarse codebook, per-subspace PQ residual books,
  * encoded corpus, normalized forward vectors) as parquet tables and
  * serves the q272/q273 recall-vs-scan audit from the artifact alone.
  *
  * Contract pieces:
  *  - q277 (build): trains the index, overwrites the artifact dir,
  *    and returns a per-component census (row counts + order-free
  *    integer-grid checksums) computed FROM THE WRITTEN FILES — the
  *    DuckDB twin re-derives the same census from the base table, so
  *    a green hash proves the persisted bytes equal an independently
  *    computed index, value for value.
  *  - q278 (serve): [[ensure]]s the artifact (idempotent: a matching
  *    fingerprint skips the build entirely), then runs the q273 probe
  *    protocol reading ONLY artifact tables plus the NQueries-bounded
  *    query batch — its plan contains parquet scans and bounded
  *    broadcasts, NO training jobs (PlanSpec-pinned). Because build
  *    and q273's raw arm share the training fold exactly, the served
  *    rows reconcile with q273's inline raw-space rows at the same
  *    probe budget — and the oracle twin (a full from-scratch
  *    recompute) proves it per value.
  *
  * Scale shape: the artifact layout is the 100 TB one — centroids
  * K·Dim, books M·K·sub (both broadcast-sized literals at serve
  * time), encoded corpus one row per vector (8 small codes, the q111
  * memory dividend), forward vectors kept only for the audit-class
  * exact-GT arm (fixture-sized holdouts in production — q272/q273
  * precedent). Serving cost = one encoded-corpus scan + bounded
  * joins; build cost = q273's one-arm training, paid once.
  *
  * Checksum budget: Σ|round(x·1e6)| per component ≤ n·Dim·1e6 —
  * int64-safe to ~1.4e11 vectors; codes/cids are small integers.
  */
object IndexArtifact {
  import Similarity.{Dim, IvfK, NProbe, NQueries, PqGrid, PqK, PqM,
    PqRounds, PqSub, TopK}

  /** Bump when the on-disk layout or training protocol changes — a
    * stale artifact from an older protocol must never serve. */
  val Version = "ivfpq-raw-v2"

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("md5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Root holding every GENERATION of one (Version, source-dir)
    * artifact, scoped by user so multi-user hosts don't collide on a
    * guessable shared /tmp path (round-12 advisor). Each generation
    * lives in an immutable content-addressed subdirectory
    * `gen-<md5(fingerprint)>`: [[ensureGen]] assembles a candidate in
    * a hidden sibling temp dir and ATOMICALLY renames it into place,
    * so a reader can never observe a half-written or mixed-generation
    * artifact even with two JVMs building concurrently (parallel
    * `sbt test` + Verify/Bench — the round-12 torn-read hazard).
    * Superseded generations linger until the OS reaps the temp dir;
    * they are immutable, so a long-running reader mid-query on an old
    * generation is never yanked. */
  def artifactRoot(sfDir: String): String = {
    val user = sys.props.getOrElse("user.name", "nouser")
    s"${sys.props("java.io.tmpdir")}/graft_index/$user/" +
      md5Hex(s"$Version|$sfDir")
  }

  /** Corpus fingerprint over the NORMALIZED vectors: row count, max
    * id, order-free id sum, and the order-free e6-grid content
    * checksum (q277's census fold) — so an in-place vector edit that
    * preserves count and max(vec_id) still invalidates the artifact
    * (round-12 verdict #3: the previous count+max fingerprint provably
    * served stale). One aggregate on the same normalization scan the
    * staleness check already paid; a pure RESCALING of a vector is
    * deliberately invisible because every downstream consumer reads
    * only the normalized form. The per-row digest weights each
    * component by its position (unlike the census's order-free
    * [[vecE6]]) so a component PERMUTATION — which changes geometry —
    * also invalidates; the cross-ROW fold stays an order-free integer
    * sum. Budget: Σ(i+1)·|round(x·1e6)| ≤ ~2e9 per row (|x| ≤ 1, 64
    * dims); the int64 fold holds to ~4e9 rows — past that, widen to
    * DECIMAL(38,0) as the Exact doctrine prescribes. */
  private def fingerprint(e: DataFrame): String = {
    // native single-pass digest (sensitivity contract unchanged —
    // IndexArtifactSpec pins the mutation-triggered rebuild; the
    // interpreted HOF form cost ~240µs/row on every serve query's
    // staleness check)
    val posE6 = graft.functions.PosE6Digest.pos_e6_digest(col("x"))
    val r = e.agg(count(lit(1)), coalesce(max(col("vec_id")), lit(-1L)),
        coalesce(sum(col("vec_id")), lit(0L)),
        coalesce(sum(posE6), lit(0L)))
      .head()
    s"$Version|n=${r.getLong(0)}|max=${r.getLong(1)}" +
      s"|ids=${r.getLong(2)}|vals=${r.getLong(3)}"
  }

  private[ext] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
  }

  /** Resolve (and if absent, build-and-publish) the generation of
    * `root` matching the current corpus. `force` pays the build even
    * when the generation exists (q277 prices the build); publication
    * stays atomic either way, and a lost publish race just drops the
    * byte-identical duplicate (deterministic build: same corpus →
    * same bytes). Returns (generation dir, whether a build ran). */
  private def ensureGen(spark: SparkSession, sfDir: String, root: String,
      builder: (DataFrame, String) => Unit, force: Boolean = false)
      : (String, Boolean) = {
    val e = normalized(spark, sfDir)
    val fp = fingerprint(e)
    val gen = s"$root/gen-${md5Hex(fp)}"
    if (!force && Files.exists(Paths.get(s"$gen/_FINGERPRINT")))
      (gen, false)
    else {
      val tmp = Paths.get(s"$root/.tmp-${java.util.UUID.randomUUID()}")
      Files.createDirectories(tmp)
      builder(e, tmp.toString)
      // marker last: a generation directory is complete by contract
      // the instant it becomes visible under its final name
      Files.writeString(tmp.resolve("_FINGERPRINT"), fp)
      try Files.move(tmp, Paths.get(gen),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case ex: java.nio.file.FileSystemException =>
        // lost the publish race (or re-published under force): keep
        // the winner's byte-identical generation, drop ours — but
        // only if a complete generation is actually there
        if (!Files.exists(Paths.get(s"$gen/_FINGERPRINT"))) throw ex
        deleteRecursively(tmp)
      }
      (gen, true)
    }
  }

  /** The normalized raw-space corpus of one source dir. */
  private def normalized(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.normalizeFrame(Tables.load(spark, sfDir, "embeddings"))

  /** [[IvfPq.encode]], the frozen-quantizer encode, under the
    * artifact's name for it: a generation's persisted `encoded` table
    * and the streaming sink's output must equal it row for row
    * (IndexArtifactSpec, StreamJobsSpec). */
  private[graft] def encodeUnder(cents: Array[(Long, Seq[Double])],
      books: Seq[Seq[(Long, Seq[Double])]], e: DataFrame): DataFrame =
    IvfPq.encode(cents, books, e)

  /** Schemas of the tables [[build]], [[indexMerge]] and [[indexCompact]]
    * write, as Spark reads them back (IndexArtifactSpec compares each
    * with the inferred one). [[EncodedSchema]] covers the flat
    * `encoded_arrival_parts` and the `cid`-partitioned `encoded`,
    * `encoded_arrival` and `encoded_arrival_compacted`, whose directory
    * values the declared type reads as bigint. */
  private[ext] val CentroidsSchema =
    Tables.struct("cid" -> LongType, "cv" -> ArrayType(DoubleType))
  private[ext] val BooksSchema = Tables.struct("s" -> IntegerType,
    "cid" -> LongType, "cv" -> ArrayType(DoubleType))
  private[ext] val ForwardSchema =
    Tables.struct("vec_id" -> LongType, "x" -> ArrayType(DoubleType))
  private[ext] val EncodedSchema = Tables.struct(
    Seq("vec_id" -> LongType, "cid" -> LongType) ++
      (0 until PqM).map(s => s"c$s" -> LongType): _*)

  /** Read artifact tables through their declared schema: no job runs
    * to infer one from the footers. */
  private def readTable(spark: SparkSession, schema: StructType,
      paths: String*): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  /** Collect a generation's broadcast-sized quantizers. */
  private[ext] def readQuantizers(spark: SparkSession, dir: String)
      : (Array[(Long, Seq[Double])], Seq[Seq[(Long, Seq[Double])]]) = {
    val cents = readTable(spark, CentroidsSchema, s"$dir/centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1)
    val books = readTable(spark, BooksSchema, s"$dir/books")
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(t => t._2 -> t._3).sortBy(_._1).toSeq)
    (cents, books)
  }

  /** Collect the persisted broadcast-sized quantizers of the CURRENT
    * generation (ensuring it first). */
  private[graft] def loadQuantizers(spark: SparkSession, sfDir: String)
      : (Array[(Long, Seq[Double])], Seq[Seq[(Long, Seq[Double])]]) =
    readQuantizers(spark, currentDir(spark, sfDir))

  /** Read an encoded table (one or more of standing/arrival dirs) in
    * the column order [[IvfPq.encode]] produces: the write partitions by
    * `cid`, so the scan appends the column LAST — reorder so every
    * reader (census, serve joins, specs) sees one stable shape. */
  private[ext] def readEncoded(spark: SparkSession, paths: String*)
      : DataFrame =
    // one scan per root, unioned: multi-root partition discovery would
    // demand a shared basePath, and separate scans keep each root
    // independently partition-prunable
    paths.map { p =>
      readTable(spark, EncodedSchema, p)
        .select(EncodedSchema.fieldNames.map(col): _*)
    }.reduce(_ unionByName _)

  /** Train q273's raw arm over the (already normalized) corpus `e0`
    * and write the four artifact tables into `dir`. Every generation
    * builds here: the raw one over the whole corpus, the standing one
    * over [[Similarity.standingSlice]] of it (q276's ingest axis,
    * whose width derives from the RAW embeddings, pre norm filter —
    * ivfPqMaintainOn's exact axis). The PQ books train through
    * [[IvfPq.train]] with one tag, the same seed collect
    * and per-round stats collect as q273's raw arm. The encoded corpus
    * is PARTITIONED BY COARSE LIST ID, so a serving read prunes to the
    * probed lists at the DIRECTORY level (round-12 verdict #1:
    * `scanned_rows` must be the plan's actual read, not a model).
    * Deterministic: same corpus → same bytes. */
  private def build(e0: DataFrame, dir: String): Unit = {
    val spark = e0.sparkSession
    val e = e0.localCheckpoint()
    val cents = Similarity.ivfCodebook(e)
    val assigned = IvfPq.residuals(cents, e).localCheckpoint()
    val books = IvfPq.train(Seq(("x", assigned, PqM, PqSub)))("x")
    // rv is checkpoint-materialized here, so the codes read it in place
    // — bit-equal to the fused residual encode (IvfPq.codes)
    val codes = IvfPq.residualCodes(books)
    import spark.implicits._
    // the four table writes are independent given the checkpointed
    // inputs and the collected quantizer literals — submit them from
    // a small thread pool so the later jobs back-fill the earlier
    // jobs' scheduling gaps (guide §2.6); each lands in its own path
    // inside the not-yet-published temp generation dir, so failure
    // atomicity is unchanged (the rename only happens after all four)
    awaitAll(
      () => cents.toSeq.toDF("cid", "cv")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids"),
      () => books.zipWithIndex
        .flatMap { case (b, s) => b.map { case (cid, cv) => (s, cid, cv) } }
        .toDF("s", "cid", "cv")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/books"),
      () => assigned.select(Seq(col("vec_id"), col("cid")) ++ codes: _*)
        .write.partitionBy("cid").mode("overwrite").parquet(s"$dir/encoded"),
      () => e.write.mode("overwrite").parquet(s"$dir/forward"))
  }

  /** Run independent write jobs concurrently (guide §2.6 — concurrent
    * jobs inside one application). Waits for EVERY job's outcome
    * before throwing the first failure — a fail-fast Future.sequence
    * would rethrow while sibling jobs are still writing into the temp
    * generation dir, which becomes a race the moment any failure-path
    * cleanup of that dir is added. */
  private def awaitAll(fs: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try
    val outcomes = Await.result(
      Future.traverse(fs.toSeq)(f => Future(Try(f()))), Duration.Inf)
    outcomes.foreach(_.get) // first failure, after all have finished
  }

  /** Build only if no generation matches the current corpus
    * fingerprint — the serve path's idempotence guard. Returns
    * true when a build ran (test hook for the skip behavior). */
  def ensure(spark: SparkSession, sfDir: String): Boolean =
    ensureGen(spark, sfDir, artifactRoot(sfDir), build)._2

  /** The current generation's directory, building it when absent. */
  private[ext] def currentDir(spark: SparkSession, sfDir: String): String =
    ensureGen(spark, sfDir, artifactRoot(sfDir), build)._1

  /** Order-free integer census of one artifact component. */
  private def census(df: DataFrame, component: String, idSum: Column,
      valE6: Column, auxSum: Column): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        coalesce(sum(idSum), lit(0L)).as("id_sum"),
        coalesce(sum(valE6), lit(0L)).as("val_e6_sum"),
        coalesce(sum(auxSum), lit(0L)).as("aux_sum"))
      .select(lit(component).as("component"), col("n_rows"),
        col("id_sum"), col("val_e6_sum"), col("aux_sum"))

  private def vecE6(c: Column): Column =
    aggregate(transform(c, x => round(x * 1e6, 0).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** q277 — build the artifact, then report its per-component census
    * FROM THE WRITTEN FILES (the read-back is the point: the oracle
    * recomputes the same census from the base table, so the compare
    * certifies the persisted bytes). */
  def indexBuild(spark: SparkSession, sfDir: String): DataFrame = {
    // force = pay the full training/write even when a matching
    // generation exists — this query PRICES the build; publication is
    // the same atomic rename, and a lost race keeps the incumbent's
    // byte-identical generation
    val dir = ensureGen(spark, sfDir, artifactRoot(sfDir), build,
      force = true)._1
    val cent = readTable(spark, CentroidsSchema, s"$dir/centroids")
    val book = readTable(spark, BooksSchema, s"$dir/books")
    val enc = readEncoded(spark, s"$dir/encoded")
    val fwd = readTable(spark, ForwardSchema, s"$dir/forward")
    census(cent, "centroids", col("cid"), vecE6(col("cv")), lit(0L))
      .unionByName(census(book, "books",
        col("s").cast("long") * 4096L + col("cid"), vecE6(col("cv")),
        lit(0L)))
      .unionByName(census(enc, "encoded", col("vec_id"),
        (0 until PqM).map(s => col(s"c$s")).reduce(_ + _), col("cid")))
      .unionByName(census(fwd, "forward", col("vec_id"), vecE6(col("x")),
        lit(0L)))
      .orderBy("component")
  }

  /** Widest probe budget any serving audit ranks against — q281's
    * probe-widened arm. Must stay ≤ [[IvfK]] (ranks past the codebook
    * are meaningless) and ≥ [[NProbe]] (the standard budget must be a
    * prefix of it, so one probe-rank frame serves every arm). */
  val WideProbe: Int = 2 * NProbe

  /** The served candidate frame the q278/q279/q281 audits rank:
    * [[ensure]] the artifact, collect the two broadcast-sized
    * codebooks, then ONE encoded-corpus pass joined to the forward
    * vectors and scored by exact cosine (GT side) and ADC (serving
    * side) against the NQueries-bounded query batch. `prank` is the
    * candidate's list's rank in the query's centroid ordering when
    * ≤ [[WideProbe]] (null past it) — any budget b ≤ WideProbe reads
    * off as `prank ≤ b`, so the narrow and widened arms share this
    * one frame instead of re-probing. `qpred` selects the query batch
    * (default: the standard NQueries cut; the streaming filtered
    * serve passes each micro-batch's id set — per-query rows are
    * independent, so a restriction serves exactly those queries'
    * audit rows). */
  private[ext] def servedScoredRanked(spark: SparkSession, sfDir: String,
      qpred: Column = col("vec_id") < NQueries): DataFrame = {
    val dir = currentDir(spark, sfDir)
    val (cents, books) = readQuantizers(spark, dir)
    val fwd = readTable(spark, ForwardSchema, s"$dir/forward")
    val enc = readEncoded(spark, s"$dir/encoded")
    val qs = fwd.filter(qpred)
      .select(col("vec_id").as("query_id"), col("x").as("qx"))
    val probes = fwd.filter(qpred)
      .select(col("vec_id").as("query_id"),
        posexplode(IvfPq.probes(cents, col("x"), WideProbe))
          .as(Seq("pp", "pcid")))
      .select(col("query_id"), col("pcid"),
        (col("pp") + 1).cast("long").as("prank"))
    IvfPq.scoreProbed(withForward(enc, fwd), qs, probes, cents, books)
      .drop("pcid")
  }

  /** The encoded rows joined to their forward vectors, in the
    * (neighbor_id, cx, cid, codes) shape [[IvfPq.scoreProbed]] reads. */
  private def withForward(enc: DataFrame, fwd: DataFrame): DataFrame =
    enc.join(fwd.withColumnRenamed("vec_id", "fid"),
        col("vec_id") === col("fid"))
      .select(Seq(col("vec_id").as("neighbor_id"), col("x").as("cx"),
        col("cid")) ++ (0 until PqM).map(s => col(s"c$s")): _*)

  /** [[servedScoredRanked]] read at the standard [[NProbe]] budget —
    * the q278/q279 `probed` flag, bit-identical to probing at NProbe
    * directly because NProbe ranks are a prefix of the WideProbe ones. */
  private def servedScored(spark: SparkSession, sfDir: String): DataFrame =
    servedScoredRanked(spark, sfDir)
      .withColumn("probed",
        col("prank").isNotNull && col("prank") <= NProbe)
      .drop("prank")

  /** q278 — serve the q273 probe protocol from the artifact alone:
    * [[ensure]] (no-op when fresh), collect the two broadcast-sized
    * codebooks, then ONE encoded-corpus pass scored by ADC against
    * the NQueries-bounded query batch, with the exact-GT arm reading
    * the forward table (audit-class). No training job appears in this
    * DataFrame's plan — the artifact scans stand where the Lloyd
    * pipelines stood in q273. */
  def indexServe(spark: SparkSession, sfDir: String): DataFrame =
    IvfPq.recallAudit(servedScored(spark, sfDir), "adc").orderBy("query_id")

  /** q279 — SAMPLED exact-GT serving audit: the executable 100 TB form
    * of q273/q278's "exact-GT arm is audit-class" caveat (round-11
    * verdict #6). Full exact GT scores EVERY candidate per query —
    * affordable at fixture SFs, a corpus scan per holdout at scale.
    * Here the GT candidate pool is restricted to the deterministic
    * [[Dedup.RecallSamplePerMille]] (25%) neighbor sample — q253's
    * shared md5 [[Dedup.sampleHit]] protocol, `:gt` salt — and BOTH
    * sides restrict to it (sampled exact top-k vs sampled ADC-over-
    * probed top-k), exactly as q253 samples both branches of its
    * recall ratio: the statistic is the index's top-k agreement on a
    * 25%-sized corpus, unbiased over sample draws, at a quarter of
    * the GT cost. The audit reports the full-GT numbers beside the
    * sampled ones and their signed delta, so the sampling error is a
    * RECORDED column, not an assumption: everything is exact-integer
    * ppm arithmetic (the q253 discipline — no float fold anywhere).
    * When the 25% sample contains no GT candidates (samp_gt_k = 0)
    * the sampled ratio is UNDEFINED, not zero: samp_recall_ppm and
    * delta_ppm are NULL on that row (round-12 advisor — the 0
    * sentinel made "empty sample" indistinguishable from genuine
    * zero sampled recall in downstream delta analysis).
    */
  def indexServeSampledGt(spark: SparkSession, sfDir: String): DataFrame = {
    val k = TopK.toLong
    val scored = servedScored(spark, sfDir)
      .withColumn("samp",
        Dedup.sampleHit(col("neighbor_id"), ":gt",
          Dedup.RecallSamplePerMille))
    val ranked = IvfPq.recallRanks(scored, "adc")
      .withColumn("r_sx", row_number().over(
        Window.partitionBy(col("query_id"), col("samp"))
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      .withColumn("r_sadc", row_number().over(
        Window.partitionBy(col("query_id"), col("samp"), col("probed"))
          .orderBy(col("adc").desc, col("neighbor_id"))).cast("long"))
    ranked.groupBy("query_id").agg(
        sum(when(col("r_ex") <= k, 1L).otherwise(0L)).as("gt_k"),
        sum(when(col("probed") && col("r_adc") <= k && col("r_ex") <= k,
          1L).otherwise(0L)).as("hits"),
        sum(when(col("samp") && col("r_sx") <= k, 1L).otherwise(0L))
          .as("samp_gt_k"),
        sum(when(col("samp") && col("probed") && col("r_sadc") <= k &&
          col("r_sx") <= k, 1L).otherwise(0L)).as("samp_hits"))
      // integer `div` (Column `/` is a double divide) — the q253 ppm rule
      .selectExpr("query_id", "gt_k", "hits",
        "CASE WHEN gt_k = 0 THEN 0L" +
          " ELSE hits * 1000000L div gt_k END AS recall_ppm",
        "samp_gt_k", "samp_hits",
        "CASE WHEN samp_gt_k = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE samp_hits * 1000000L div samp_gt_k END AS samp_recall_ppm")
      .withColumn("delta_ppm",
        col("samp_recall_ppm") - col("recall_ppm"))
      .orderBy("query_id")
  }

  /** q281 — FILTERED serving audit: top-k under a metadata predicate
    * (each query wants only neighbors sharing its `label`), the other
    * half of the 100 TB vector-serving story — real traffic rarely
    * searches the whole corpus, it searches "the English docs" or
    * "this tenant's rows", and an IVF index is label-agnostic: its
    * lists partition by GEOMETRY, so a 10%-selective filter leaves
    * ~10% of each probed list alive and the post-filtered candidate
    * pool starves at the standard probe budget. The two arms price
    * the standard answer to that:
    *
    *  - narrow (post-filter): probe [[NProbe]] lists, scan them ALL
    *    (the filter applies after decode — scanned_narrow counts every
    *    probed row, the honest pre-filter scan cost), rank the
    *    label-matching survivors by ADC;
    *  - wide (probe widening): same protocol at [[WideProbe]] lists —
    *    the selectivity-aware budget a filtered serve actually runs,
    *    buying recall with proportionally more scan.
    *
    * Both arms rank against the FILTERED exact GT (top-[[TopK]] by
    * cosine among label-matching candidates). One ranked frame serves
    * both arms ([[servedScoredRanked]]'s prefix-rank trick — no second
    * probe pass); the label rides in from the base embeddings table by
    * vec_id equi-join, exactly how serving metadata joins an index at
    * scale (the artifact stays metadata-free). All outputs are exact
    * integers (counts + ppm ratios via integer div — the q253 rule),
    * so the audit has no float fold anywhere. gain_ppm = what probe
    * widening bought, per query, in recall ppm. */
  def indexServeFiltered(spark: SparkSession, sfDir: String): DataFrame =
    indexServeFilteredOn(spark, sfDir, col("vec_id") < NQueries)

  /** [[indexServeFiltered]] over an arbitrary query cut — per-query
    * rows are independent (every window partitions by query_id), so a
    * restriction serves exactly those queries' audit rows; the
    * streaming filtered serve passes each micro-batch's id set. */
  private[graft] def indexServeFilteredOn(spark: SparkSession,
      sfDir: String, qpred: Column): DataFrame = {
    val lbl = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val qlbl = lbl.filter(qpred)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    val f = servedScoredRanked(spark, sfDir, qpred)
      .join(lbl.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .join(broadcast(qlbl), Seq("query_id"))
      .withColumn("m", col("label") === col("qlabel"))
      .withColumn("p_n",
        col("prank").isNotNull && col("prank") <= NProbe)
      .withColumn("p_w", col("prank").isNotNull)
    val k = TopK.toLong
    f.withColumn("r_exf", row_number().over(
        Window.partitionBy(col("query_id"), col("m"))
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      .withColumn("r_an", row_number().over(
        Window.partitionBy(col("query_id"), col("m"), col("p_n"))
          .orderBy(col("adc").desc, col("neighbor_id"))).cast("long"))
      .withColumn("r_aw", row_number().over(
        Window.partitionBy(col("query_id"), col("m"), col("p_w"))
          .orderBy(col("adc").desc, col("neighbor_id"))).cast("long"))
      .groupBy("query_id").agg(
        max(col("qlabel")).as("qlabel"),
        sum(when(col("m") && col("r_exf") <= k, 1L).otherwise(0L))
          .as("gt_k"),
        sum(when(col("p_n"), 1L).otherwise(0L)).as("scanned_narrow"),
        sum(when(col("m") && col("p_n") && col("r_an") <= k &&
          col("r_exf") <= k, 1L).otherwise(0L)).as("hits_narrow"),
        sum(when(col("p_w"), 1L).otherwise(0L)).as("scanned_wide"),
        sum(when(col("m") && col("p_w") && col("r_aw") <= k &&
          col("r_exf") <= k, 1L).otherwise(0L)).as("hits_wide"))
      // integer `div` (Column `/` is a double divide) — the q253 ppm rule
      .selectExpr("query_id", "qlabel", "gt_k",
        "scanned_narrow", "hits_narrow",
        "CASE WHEN gt_k = 0 THEN 0L" +
          " ELSE hits_narrow * 1000000L div gt_k END AS recall_narrow_ppm",
        "scanned_wide", "hits_wide",
        "CASE WHEN gt_k = 0 THEN 0L" +
          " ELSE hits_wide * 1000000L div gt_k END AS recall_wide_ppm")
      .withColumn("gain_ppm",
        col("recall_wide_ppm") - col("recall_narrow_ppm"))
      .orderBy("query_id")
  }

  /** q282 — the GT-free SERVING read (round-12 verdict #1): what a
    * production query actually executes against the artifact, as
    * opposed to the q278/q279/q281 recall AUDITS, whose exact-GT arm
    * must score every candidate and therefore scans the whole corpus
    * by necessity. Two-phase read, the way a 100 TB vector serve
    * works:
    *
    *  1. PLAN — resolve the artifact, collect the codebook-sized
    *     quantizers, rank each query's [[NProbe]] nearest lists (a
    *     bounded NQueries × IvfK computation), and collect the probed
    *     list ids — (NQueries × NProbe)-bounded BY CONSTRUCTION.
    *  2. READ — scan ONLY those lists: the encoded corpus is
    *     partitioned by `cid` ([[build]]), and the probed ids
    *     become a LITERAL IN filter, so the parquet scan's
    *     PartitionFilters prune to the probed directories
    *     (spec-pinned). The rows this query touches are the rows the
    *     plan physically reads — `scanned_rows` stops being a model
    *     (the round-12 gap) and becomes the scan itself.
    *
    * Per-query list membership then rides the broadcast probe-pair
    * equi-join (a probed list is only a candidate source for the
    * queries that probed it), ADC scores against the broadcast query
    * batch, and row_number picks the served top-[[TopK]]. Every join
    * is a broadcast EQUI-join; the output is exact integers plus the
    * e6-grid ADC value (per-row rounding of a fixed-order term sum —
    * both engines execute the identical IEEE sequence). The served
    * ranking is bit-equal to q278's probed arm at the same budget
    * (spec-pinned reconciliation): pruning changes the bytes read,
    * never the answer. */
  def indexServePruned(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = currentDir(spark, sfDir)
    val (cents, books) = readQuantizers(spark, dir)
    val fwd = readTable(spark, ForwardSchema, s"$dir/forward")
    val qs = fwd.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("x").as("qx"))
    val probes = fwd.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        explode(IvfPq.probes(cents, col("x"), NProbe)).as("pcid"))
    // phase 1's driver-side step: the probed-list union becomes a
    // literal partition cut (24 values max — the serving plan step)
    val probedCids = probes.select("pcid").distinct()
      .collect().map(_.getLong(0)).sorted
    val enc = readEncoded(spark, s"$dir/encoded")
      .filter(col("cid").isin(probedCids: _*))
    enc
      .join(broadcast(probes), col("cid") === col("pcid"))
      .join(broadcast(qs), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cid"), IvfPq.adcScore(col("qx"), cents, books).as("adc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cid"),
        round(col("adc") * 1e6, 0).cast("long").as("adc_e6"))
      .orderBy("query_id", "rk")
  }

  // ------------------------------------------------------------------
  // q280 — incremental artifact merge: the q276 frozen arm EXECUTED as
  // artifact lifecycle instead of one inline job. Build the index on
  // the STANDING corpus (q276's ingest axis, batches 0‥DriftBatches-2),
  // encode the ARRIVAL batch under the frozen persisted quantizers
  // (the map-only step the streaming sink runs), land it as its OWN
  // partition directory beside the standing encode — exactly how an
  // incremental index grows at 100 TB: per-ingest-batch partitions,
  // folded later by Layout.compact — and serve the merged index to the
  // arrival queries. The audit rows must equal q276's inline frozen
  // arm (spec-pinned), and the oracle twin IS q276's, filtered to the
  // frozen arm: the lifecycle changes where the bytes live, never the
  // answer.
  // ------------------------------------------------------------------

  /** Root for the standing-corpus (frozen-arm) index generations.
    * Fingerprinted over the FULL corpus (an arrival change must
    * re-derive the standing split), same atomic-generation discipline
    * as [[artifactRoot]]. The q280 arrival tables land INSIDE the
    * sealed generation dir post-publication — deliberately: they are
    * per-batch, overwrite-idempotent partition dirs (the incremental
    * lifecycle being modeled), not fingerprint-covered build outputs. */
  def standingRoot(sfDir: String): String =
    artifactRoot(sfDir) + "_standing"

  /** Build-if-stale for the standing index (same guard as [[ensure]]). */
  def ensureStanding(spark: SparkSession, sfDir: String): Boolean =
    standingGen(spark, sfDir)._2

  /** The standing index's current generation (building when absent). */
  private[ext] def currentStandingDir(spark: SparkSession,
      sfDir: String): String =
    standingGen(spark, sfDir)._1

  /** [[build]] over the standing slice of the normalized corpus. */
  private def standingGen(spark: SparkSession, sfDir: String)
      : (String, Boolean) =
    ensureGen(spark, sfDir, standingRoot(sfDir), (e0, dir) =>
      build(Similarity.standingSlice(e0, Similarity.ingestWidth(
        Tables.load(spark, sfDir, "embeddings"))), dir))

  /** q280 — merge-and-serve: encode the arrival batch under the
    * STANDING artifact's frozen quantizers into its own partition
    * directory (idempotent: the arrival partition is overwritten, the
    * standing tables untouched), then run the q276 frozen-arm audit
    * over the MERGED index — arrival queries, full-corpus GT from the
    * merged forward vectors, ADC over the merged encoded rows. */
  def indexMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = currentStandingDir(spark, sfDir)
    val width = Similarity.ingestWidth(Tables.load(spark, sfDir, "embeddings"))
    val arrivalLo = width * (Similarity.DriftBatches - 1)
    val (cents, books) = readQuantizers(spark, dir)
    // the incremental step: ONE batch-sized map-only encode, landed as
    // the arrival's own partition dir (overwrite = idempotent re-merge)
    val arrival = normalized(spark, sfDir)
      .filter(col("vec_id") >= arrivalLo)
    awaitAll(
      () => IvfPq.encode(cents, books, arrival)
        .write.partitionBy("cid").mode("overwrite")
        .parquet(s"$dir/encoded_arrival"),
      () => arrival.write.mode("overwrite")
        .parquet(s"$dir/forward_arrival"))

    val fwd = readTable(spark, ForwardSchema, s"$dir/forward",
      s"$dir/forward_arrival")
    val enc = readEncoded(spark, s"$dir/encoded", s"$dir/encoded_arrival")
    // fresh-traffic queries: the first NQueries arrival ids (q276's
    // literal-range cut)
    IvfPq.probeAudit(withForward(enc, fwd),
        fwd.filter(col("vec_id") >= arrivalLo &&
          col("vec_id") < arrivalLo + NQueries),
        cents, books)
      .orderBy("query_id")
  }

  /** q280 twin: q276's oracle restricted to its frozen arm — the
    * merge lifecycle must land on the inline frozen-arm rows. */
  val indexMergeSql: String =
    s"""SELECT query_id, scanned_rows, gt_k, hits, recall
       |FROM (${Similarity.ivfPqMaintainSql})
       |WHERE arm = 'frozen'
       |ORDER BY query_id""".stripMargin

  /** Sub-batch count q284 stages the arrival as — the per-micro-batch
    * append granularity of the streaming encode sink. */
  val CompactSubBatches = 4

  /** Files per staged sub-batch append (a micro-batch writer emits
    * one file per task): 4 × 8 = 32 small flat files fold into at
    * most [[IvfK]] single-file list directories. */
  val PartsFilesPerSubBatch = 8

  /** q284 — artifact COMPACTION with a census-invariance audit, the
    * "folded later by Layout.compact" promise of q280 made real
    * (round-12 verdict #6). The arrival batch's frozen-quantizer
    * encode is staged the way the streaming sink actually lands it —
    * [[CompactSubBatches]] appends of [[PartsFilesPerSubBatch]] small
    * flat files each — then [[graft.etl.Layout.compactPartitioned]]
    * folds the 32 appends into the SERVING layout: one file per
    * populated `cid` directory, the exact layout q282's pruned read
    * wants. The query reports the order-free census (rows, id sum,
    * code sum, list-id sum) of BOTH faces read back FROM THE FILES;
    * the oracle recomputes the arrival encode census once from the
    * base table and emits it twice — a green hash certifies
    * compaction moved bytes without changing a single value. The
    * file-count reduction itself is environment-dependent (task
    * counts), so it is spec-asserted, not oracle-hashed. */
  def indexCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = currentStandingDir(spark, sfDir)
    val (cents, books) = readQuantizers(spark, dir)
    val width = Similarity.ingestWidth(Tables.load(spark, sfDir, "embeddings"))
    val arrivalLo = width * (Similarity.DriftBatches - 1)
    // checkpoint: the staged writes below re-read this batch-sized
    // frame CompactSubBatches times
    val arrival = normalized(spark, sfDir)
      .filter(col("vec_id") >= arrivalLo)
      .localCheckpoint()
    val parts = s"$dir/encoded_arrival_parts"
    val compacted = s"$dir/encoded_arrival_compacted"
    deleteRecursively(Paths.get(parts))
    (0 until CompactSubBatches).foreach { sb =>
      IvfPq.encode(cents, books,
          arrival.filter(col("vec_id") % CompactSubBatches === sb))
        .repartition(PartsFilesPerSubBatch)
        .write.mode("append").parquet(parts)
    }
    graft.etl.Layout.compactPartitioned(spark, parts, compacted, "cid")
    val codeSum = (0 until PqM).map(s => col(s"c$s")).reduce(_ + _)
    census(readTable(spark, EncodedSchema, parts), "arrival_parts",
        col("vec_id"), codeSum, col("cid"))
      .unionByName(census(readEncoded(spark, compacted),
        "arrival_compacted", col("vec_id"), codeSum, col("cid")))
      .orderBy("component")
  }

  /** q284 twin: the frozen-arm arrival-encode census, recomputed once
    * from the base table and emitted for both faces — compaction must
    * not change a value. */
  val indexCompactSql: String = {
    val codeJoins = (0 until PqM)
      .map(s => s"JOIN pcodef$s ON pcodef$s.vec_id = r.vec_id")
      .mkString(" ")
    val codeSum = (0 until PqM).map(s => s"pcodef$s.cid").mkString(" + ")
    s"""WITH ${Similarity.maintainEnCtesSql},
       |${Similarity.maintainTrainCtesSql("f",
           s"ingest_batch < ${Similarity.DriftBatches - 1}")},
       |cen AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |         CAST(COALESCE(SUM(r.vec_id), 0) AS BIGINT) AS id_sum,
       |         CAST(COALESCE(SUM($codeSum), 0) AS BIGINT) AS val_e6_sum,
       |         CAST(COALESCE(SUM(r.cid), 0) AS BIGINT) AS aux_sum
       |  FROM rsf r $codeJoins
       |  WHERE r.ingest_batch = ${Similarity.DriftBatches - 1}
       |)
       |SELECT 'arrival_compacted' AS component, n_rows, id_sum,
       |       val_e6_sum, aux_sum
       |FROM cen
       |UNION ALL
       |SELECT 'arrival_parts', n_rows, id_sum, val_e6_sum, aux_sum
       |FROM cen
       |ORDER BY component""".stripMargin
  }

  // ------------------------------------------------------------------
  // DuckDB twins: a from-scratch recompute of the SAME index — the
  // oracle has no artifact, so green hashes certify that the persisted
  // (build) / served (serve) values equal an independently derived
  // index. Shared CTE prefix: normalized corpus, trained coarse
  // codebook (Similarity.ivfCentCtes — the cross-engine Lloyd),
  // residuals, per-subspace PQ books + codes (q273's raw-arm chain).
  // ------------------------------------------------------------------

  private def lo(s: Int) = s * PqSub + 1
  private def hi(s: Int) = (s + 1) * PqSub
  private def sqd(a: String, b: String) =
    s"""list_sum(list_transform(range($PqSub),
       |               j -> ($a[j + 1] - $b[j + 1])
       |                    * ($a[j + 1] - $b[j + 1])))""".stripMargin

  private def trainCtes: String = {
    require(PqRounds == 1,
      "IndexArtifact twins unroll exactly one PQ Lloyd round")
    val perSub = (0 until PqM).map { s =>
      s"""pc${s}_0 AS (
         |  SELECT vec_id AS cid, rv[${lo(s)}:${hi(s)}] AS cv
         |  FROM rs WHERE vec_id < $PqK
         |), pa${s}_1 AS MATERIALIZED (
         |  SELECT vec_id, sv, cid FROM (
         |    SELECT r.vec_id, r.rv[${lo(s)}:${hi(s)}] AS sv, c.cid,
         |           row_number() OVER (PARTITION BY r.vec_id
         |             ORDER BY ${sqd(s"r.rv[${lo(s)}:${hi(s)}]", "c.cv")}
         |               ASC, c.cid) AS rn
         |    FROM rs r, pc${s}_0 c) WHERE rn = 1
         |), pc${s}_1 AS MATERIALIZED (
         |  SELECT cid, list(mn ORDER BY i) AS cv FROM (
         |    SELECT cid, i,
         |           CAST(CAST(SUM(CAST(round(sv[i] * $PqGrid) AS BIGINT))
         |                     AS BIGINT) AS DOUBLE)
         |           / (CAST(COUNT(*) AS DOUBLE) * $PqGrid) AS mn
         |    FROM pa${s}_1, (SELECT unnest(generate_series(1, $PqSub)) AS i)
         |    GROUP BY cid, i)
         |  GROUP BY cid
         |), pcode$s AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT a.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${sqd("a.sv", "c.cv")} ASC, c.cid) AS rn
         |    FROM (SELECT vec_id, rv[${lo(s)}:${hi(s)}] AS sv FROM rs) a,
         |         pc${s}_1 c) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""en AS MATERIALIZED (
       |  SELECT vec_id, list_transform(v0, x -> x / nrm) AS x FROM (
       |    SELECT vec_id, embedding::DOUBLE[] AS v0,
       |           sqrt(list_dot_product(embedding::DOUBLE[],
       |                                 embedding::DOUBLE[])) AS nrm
       |    FROM embeddings)
       |  WHERE nrm > 0
       |),
       |${Similarity.ivfCentCtes("cent", "en", "x")},
       |rs AS MATERIALIZED (
       |  SELECT a.vec_id, a.x, a.cid,
       |         list_transform(range($Dim),
       |           i -> a.x[i + 1] - c.cv[i + 1]) AS rv
       |  FROM (
       |    SELECT vec_id, x, cid FROM (
       |      SELECT e.vec_id, e.x, c.cid,
       |             row_number() OVER (PARTITION BY e.vec_id
       |               ORDER BY list_cosine_similarity(e.x, c.cv) DESC,
       |                 c.cid) AS rn
       |      FROM en e, cent c) WHERE rn = 1) a
       |  JOIN cent c ON c.cid = a.cid
       |),
       |$perSub""".stripMargin
  }

  private def vecE6Sql(c: String): String =
    s"""list_sum(list_transform($c,
       |  x -> CAST(round(x * 1e6) AS BIGINT)))""".stripMargin

  val indexBuildSql: String = {
    val bookRows = (0 until PqM)
      .map(s => s"SELECT $s AS s, cid, cv FROM pc${s}_1")
      .mkString(" UNION ALL ")
    val codeSum = (0 until PqM)
      .map(s => s"pcode$s.cid").mkString(" + ")
    val codeJoins = (0 until PqM)
      .map(s => s"JOIN pcode$s ON pcode$s.vec_id = r.vec_id")
      .mkString(" ")
    s"""WITH $trainCtes,
       |allbooks AS ($bookRows)
       |SELECT * FROM (
       |  SELECT 'books' AS component, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |         CAST(COALESCE(SUM(s * 4096 + cid), 0) AS BIGINT) AS id_sum,
       |         CAST(COALESCE(SUM(${vecE6Sql("cv")}), 0) AS BIGINT)
       |           AS val_e6_sum,
       |         CAST(0 AS BIGINT) AS aux_sum
       |  FROM allbooks
       |  UNION ALL
       |  SELECT 'centroids', CAST(COUNT(*) AS BIGINT),
       |         CAST(COALESCE(SUM(cid), 0) AS BIGINT),
       |         CAST(COALESCE(SUM(${vecE6Sql("cv")}), 0) AS BIGINT),
       |         CAST(0 AS BIGINT)
       |  FROM cent
       |  UNION ALL
       |  SELECT 'encoded', CAST(COUNT(*) AS BIGINT),
       |         CAST(COALESCE(SUM(r.vec_id), 0) AS BIGINT),
       |         CAST(COALESCE(SUM($codeSum), 0) AS BIGINT),
       |         CAST(COALESCE(SUM(r.cid), 0) AS BIGINT)
       |  FROM rs r $codeJoins
       |  UNION ALL
       |  SELECT 'forward', CAST(COUNT(*) AS BIGINT),
       |         CAST(COALESCE(SUM(vec_id), 0) AS BIGINT),
       |         CAST(COALESCE(SUM(${vecE6Sql("x")}), 0) AS BIGINT),
       |         CAST(0 AS BIGINT)
       |  FROM en
       |) ORDER BY component""".stripMargin
  }

  val indexServeSql: String = {
    val codeJoins = (0 until PqM)
      .map(s => s"JOIN pcode$s ON pcode$s.vec_id = r.vec_id")
      .mkString(" ")
    val codeCols = (0 until PqM)
      .map(s => s"pcode$s.cid AS c$s").mkString(", ")
    val termJoins = (0 until PqM)
      .map(s => s"JOIN pc${s}_1 k$s ON k$s.cid = cd.c$s")
      .mkString(" ")
    val adcSum = (s"list_dot_product(q.qx, c.cv)" +:
      (0 until PqM).map(s =>
        s"list_dot_product(q.qx[${lo(s)}:${hi(s)}], k$s.cv)"))
      .mkString(" + ")
    s"""WITH $trainCtes,
       |prob AS (
       |  SELECT vec_id AS query_id, cid AS pcid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.x, c.cv) DESC,
       |               c.cid) AS rn
       |    FROM en e, cent c WHERE e.vec_id < $NQueries)
       |  WHERE rn <= $NProbe
       |), fl AS (
       |  SELECT q.query_id, cd.vec_id AS neighbor_id,
       |         list_cosine_similarity(q.qx, cd.x) AS cos,
       |         $adcSum AS adc,
       |         (p.pcid IS NOT NULL) AS probed
       |  FROM (SELECT r.vec_id, r.x, r.cid, $codeCols
       |        FROM rs r $codeJoins) cd
       |  JOIN cent c ON c.cid = cd.cid
       |  JOIN (SELECT vec_id AS query_id, x AS qx FROM en
       |        WHERE vec_id < $NQueries) q
       |    ON cd.vec_id != q.query_id
       |  $termJoins
       |  LEFT JOIN prob p ON p.query_id = q.query_id
       |                  AND p.pcid = cd.cid
       |), rk AS (
       |  SELECT query_id, probed,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, neighbor_id) AS r_ex,
       |         row_number() OVER (PARTITION BY query_id, probed
       |           ORDER BY adc DESC, neighbor_id) AS r_adc
       |  FROM fl
       |)
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |       CAST(SUM(CASE WHEN probed THEN 1 ELSE 0 END) AS BIGINT)
       |         AS scanned_rows,
       |       CAST(SUM(CASE WHEN r_ex <= $TopK THEN 1 ELSE 0 END)
       |         AS BIGINT) AS gt_k,
       |       CAST(SUM(CASE WHEN probed AND r_adc <= $TopK
       |                          AND r_ex <= $TopK
       |                THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |       round(CAST(SUM(CASE WHEN probed AND r_adc <= $TopK
       |                               AND r_ex <= $TopK
       |                     THEN 1 ELSE 0 END) AS DOUBLE)
       |             / CAST(SUM(CASE WHEN r_ex <= $TopK THEN 1 ELSE 0 END)
       |                    AS DOUBLE), 6) AS recall
       |FROM rk GROUP BY 1 ORDER BY query_id""".stripMargin
  }

  val indexServeSampledGtSql: String = {
    val codeJoins = (0 until PqM)
      .map(s => s"JOIN pcode$s ON pcode$s.vec_id = r.vec_id")
      .mkString(" ")
    val codeCols = (0 until PqM)
      .map(s => s"pcode$s.cid AS c$s").mkString(", ")
    val termJoins = (0 until PqM)
      .map(s => s"JOIN pc${s}_1 k$s ON k$s.cid = cd.c$s")
      .mkString(" ")
    val adcSum = (s"list_dot_product(q.qx, c.cv)" +:
      (0 until PqM).map(s =>
        s"list_dot_product(q.qx[${lo(s)}:${hi(s)}], k$s.cv)"))
      .mkString(" + ")
    val sampPred = Dedup.sampleHitSql("cd.vec_id", ":gt",
      Dedup.RecallSamplePerMille)
    s"""WITH $trainCtes,
       |prob AS (
       |  SELECT vec_id AS query_id, cid AS pcid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.x, c.cv) DESC,
       |               c.cid) AS rn
       |    FROM en e, cent c WHERE e.vec_id < $NQueries)
       |  WHERE rn <= $NProbe
       |), fl AS (
       |  SELECT q.query_id, cd.vec_id AS neighbor_id,
       |         list_cosine_similarity(q.qx, cd.x) AS cos,
       |         $adcSum AS adc,
       |         (p.pcid IS NOT NULL) AS probed,
       |         ($sampPred) AS samp
       |  FROM (SELECT r.vec_id, r.x, r.cid, $codeCols
       |        FROM rs r $codeJoins) cd
       |  JOIN cent c ON c.cid = cd.cid
       |  JOIN (SELECT vec_id AS query_id, x AS qx FROM en
       |        WHERE vec_id < $NQueries) q
       |    ON cd.vec_id != q.query_id
       |  $termJoins
       |  LEFT JOIN prob p ON p.query_id = q.query_id
       |                  AND p.pcid = cd.cid
       |), rk AS (
       |  SELECT query_id, probed, samp,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, neighbor_id) AS r_ex,
       |         row_number() OVER (PARTITION BY query_id, probed
       |           ORDER BY adc DESC, neighbor_id) AS r_adc,
       |         row_number() OVER (PARTITION BY query_id, samp
       |           ORDER BY cos DESC, neighbor_id) AS r_sx,
       |         row_number() OVER (PARTITION BY query_id, samp, probed
       |           ORDER BY adc DESC, neighbor_id) AS r_sadc
       |  FROM fl
       |), ag AS (
       |  SELECT query_id,
       |         SUM(CASE WHEN r_ex <= $TopK THEN 1 ELSE 0 END) AS gt_k,
       |         SUM(CASE WHEN probed AND r_adc <= $TopK AND r_ex <= $TopK
       |                  THEN 1 ELSE 0 END) AS hits,
       |         SUM(CASE WHEN samp AND r_sx <= $TopK THEN 1 ELSE 0 END)
       |           AS samp_gt_k,
       |         SUM(CASE WHEN samp AND probed AND r_sadc <= $TopK
       |                       AND r_sx <= $TopK
       |                  THEN 1 ELSE 0 END) AS samp_hits
       |  FROM rk GROUP BY 1
       |)
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |       CAST(gt_k AS BIGINT) AS gt_k,
       |       CAST(hits AS BIGINT) AS hits,
       |       CAST(CASE WHEN gt_k = 0 THEN 0
       |            ELSE hits * 1000000 // gt_k END AS BIGINT) AS recall_ppm,
       |       CAST(samp_gt_k AS BIGINT) AS samp_gt_k,
       |       CAST(samp_hits AS BIGINT) AS samp_hits,
       |       CAST(CASE WHEN samp_gt_k = 0 THEN NULL
       |            ELSE samp_hits * 1000000 // samp_gt_k END AS BIGINT)
       |         AS samp_recall_ppm,
       |       CAST(CASE WHEN samp_gt_k = 0 THEN NULL
       |            ELSE samp_hits * 1000000 // samp_gt_k END
       |            - CASE WHEN gt_k = 0 THEN 0
       |              ELSE hits * 1000000 // gt_k END AS BIGINT) AS delta_ppm
       |FROM ag ORDER BY query_id""".stripMargin
  }

  /** q281 twin — the same from-scratch index recompute, filtered to
    * label-matching candidates per query: prob keeps the probe RANK to
    * [[WideProbe]] so both arms read off one frame (prank ≤ NProbe /
    * prank not null), labels join from the base table by vec_id, and
    * every output is an exact integer (counts + `//` ppm). */
  val indexServeFilteredSql: String = {
    val codeJoins = (0 until PqM)
      .map(s => s"JOIN pcode$s ON pcode$s.vec_id = r.vec_id")
      .mkString(" ")
    val codeCols = (0 until PqM)
      .map(s => s"pcode$s.cid AS c$s").mkString(", ")
    val termJoins = (0 until PqM)
      .map(s => s"JOIN pc${s}_1 k$s ON k$s.cid = cd.c$s")
      .mkString(" ")
    val adcSum = (s"list_dot_product(q.qx, c.cv)" +:
      (0 until PqM).map(s =>
        s"list_dot_product(q.qx[${lo(s)}:${hi(s)}], k$s.cv)"))
      .mkString(" + ")
    s"""WITH $trainCtes,
       |prob AS (
       |  SELECT vec_id AS query_id, cid AS pcid, rn AS prank FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.x, c.cv) DESC,
       |               c.cid) AS rn
       |    FROM en e, cent c WHERE e.vec_id < $NQueries)
       |  WHERE rn <= $WideProbe
       |), fl AS (
       |  SELECT q.query_id, q.qlabel, cd.vec_id AS neighbor_id,
       |         (lb.label = q.qlabel) AS m,
       |         list_cosine_similarity(q.qx, cd.x) AS cos,
       |         $adcSum AS adc,
       |         (p.prank IS NOT NULL AND p.prank <= $NProbe) AS p_n,
       |         (p.prank IS NOT NULL) AS p_w
       |  FROM (SELECT r.vec_id, r.x, r.cid, $codeCols
       |        FROM rs r $codeJoins) cd
       |  JOIN cent c ON c.cid = cd.cid
       |  JOIN embeddings lb ON lb.vec_id = cd.vec_id
       |  JOIN (SELECT e.vec_id AS query_id, e.x AS qx,
       |               CAST(le.label AS BIGINT) AS qlabel
       |        FROM en e JOIN embeddings le ON le.vec_id = e.vec_id
       |        WHERE e.vec_id < $NQueries) q
       |    ON cd.vec_id != q.query_id
       |  $termJoins
       |  LEFT JOIN prob p ON p.query_id = q.query_id
       |                  AND p.pcid = cd.cid
       |), rk AS (
       |  SELECT query_id, qlabel, m, p_n, p_w,
       |         row_number() OVER (PARTITION BY query_id, m
       |           ORDER BY cos DESC, neighbor_id) AS r_exf,
       |         row_number() OVER (PARTITION BY query_id, m, p_n
       |           ORDER BY adc DESC, neighbor_id) AS r_an,
       |         row_number() OVER (PARTITION BY query_id, m, p_w
       |           ORDER BY adc DESC, neighbor_id) AS r_aw
       |  FROM fl
       |), ag AS (
       |  SELECT query_id, MAX(qlabel) AS qlabel,
       |         SUM(CASE WHEN m AND r_exf <= $TopK THEN 1 ELSE 0 END)
       |           AS gt_k,
       |         SUM(CASE WHEN p_n THEN 1 ELSE 0 END) AS scanned_narrow,
       |         SUM(CASE WHEN m AND p_n AND r_an <= $TopK
       |                       AND r_exf <= $TopK
       |                  THEN 1 ELSE 0 END) AS hits_narrow,
       |         SUM(CASE WHEN p_w THEN 1 ELSE 0 END) AS scanned_wide,
       |         SUM(CASE WHEN m AND p_w AND r_aw <= $TopK
       |                       AND r_exf <= $TopK
       |                  THEN 1 ELSE 0 END) AS hits_wide
       |  FROM rk GROUP BY 1
       |)
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |       CAST(qlabel AS BIGINT) AS qlabel,
       |       CAST(gt_k AS BIGINT) AS gt_k,
       |       CAST(scanned_narrow AS BIGINT) AS scanned_narrow,
       |       CAST(hits_narrow AS BIGINT) AS hits_narrow,
       |       CAST(CASE WHEN gt_k = 0 THEN 0
       |            ELSE hits_narrow * 1000000 // gt_k END AS BIGINT)
       |         AS recall_narrow_ppm,
       |       CAST(scanned_wide AS BIGINT) AS scanned_wide,
       |       CAST(hits_wide AS BIGINT) AS hits_wide,
       |       CAST(CASE WHEN gt_k = 0 THEN 0
       |            ELSE hits_wide * 1000000 // gt_k END AS BIGINT)
       |         AS recall_wide_ppm,
       |       CAST(CASE WHEN gt_k = 0 THEN 0
       |              ELSE hits_wide * 1000000 // gt_k END
       |            - CASE WHEN gt_k = 0 THEN 0
       |              ELSE hits_narrow * 1000000 // gt_k END AS BIGINT)
       |         AS gain_ppm
       |FROM ag ORDER BY query_id""".stripMargin
  }

  /** q282 twin — the same from-scratch index recompute, restricted to
    * probed lists by an INNER probe join (the oracle has no partition
    * layout, so "read only the probed lists" is expressed as the
    * equivalent relational cut), ranked by ADC per query. */
  val indexServePrunedSql: String = {
    val codeJoins = (0 until PqM)
      .map(s => s"JOIN pcode$s ON pcode$s.vec_id = r.vec_id")
      .mkString(" ")
    val codeCols = (0 until PqM)
      .map(s => s"pcode$s.cid AS c$s").mkString(", ")
    val termJoins = (0 until PqM)
      .map(s => s"JOIN pc${s}_1 k$s ON k$s.cid = cd.c$s")
      .mkString(" ")
    val adcSum = (s"list_dot_product(q.qx, c.cv)" +:
      (0 until PqM).map(s =>
        s"list_dot_product(q.qx[${lo(s)}:${hi(s)}], k$s.cv)"))
      .mkString(" + ")
    s"""WITH $trainCtes,
       |prob AS (
       |  SELECT vec_id AS query_id, cid AS pcid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.x, c.cv) DESC,
       |               c.cid) AS rn
       |    FROM en e, cent c WHERE e.vec_id < $NQueries)
       |  WHERE rn <= $NProbe
       |), fl AS (
       |  SELECT q.query_id, cd.vec_id AS neighbor_id, cd.cid,
       |         $adcSum AS adc
       |  FROM (SELECT r.vec_id, r.cid, $codeCols
       |        FROM rs r $codeJoins) cd
       |  JOIN prob p ON p.pcid = cd.cid
       |  JOIN (SELECT vec_id AS query_id, x AS qx FROM en
       |        WHERE vec_id < $NQueries) q
       |    ON q.query_id = p.query_id AND cd.vec_id != q.query_id
       |  JOIN cent c ON c.cid = cd.cid
       |  $termJoins
       |)
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |       CAST(rk AS BIGINT) AS rk,
       |       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       |       CAST(cid AS BIGINT) AS cid,
       |       CAST(round(adc * 1e6) AS BIGINT) AS adc_e6
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |           ORDER BY adc DESC, neighbor_id) AS rk
       |  FROM fl)
       |WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin
  }
}
