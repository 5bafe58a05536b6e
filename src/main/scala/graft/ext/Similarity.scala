package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-dim).
  *
  *  - Brute-force cosine top-k: the correctness baseline. Query vectors are
  *    broadcast against the candidate side, so the big side is scanned once
  *    with no shuffle; the per-query top-k is a windowed rank over the
  *    (small) query × k result space.
  *  - SRP-LSH (signed random projection) bucketed ANN: the 100 TB path.
  *    Hyperplanes are DERIVED deterministically from md5 parity — no RNG —
  *    so buckets are reproducible across engines and runs. Candidates are
  *    only compared within a bucket: the candidate side is scanned once,
  *    hashed to `Planes` sign bits, and joined bucket-to-bucket.
  *
  * All arithmetic is done in double after an exact float→double upcast so
  * Spark and the DuckDB oracle compute bit-identical products; outputs
  * round cosine to 6 dp as belt-and-braces against summation-order noise.
  */
object Similarity {

  val TopK = 10
  val NQueries = 8
  val Dim = 64

  /** Quantization scale for the exact covariance matrix (q210). A
    * power of two, so float → double × 1024 is EXACT (no rounding
    * before the explicit round()) and the quantized co-moments are
    * integer sums both engines compute identically in any order.
    * Declared at the head of the object: SQL-twin vals at any
    * position interpolate it, and a forward reference in an eager
    * val captures the default-initialized 0.0. */
  val CovScale = 1024.0

  /** Multi-table SRP geometry: L hash tables (OR-amplification, boosts
    * recall) of `Planes` sign bits each (AND-amplification, shrinks
    * buckets). At 100 TB, Planes grows ~log(N) to keep buckets bounded
    * and L grows with the recall target. */
  val Tables_ = 4
  val Planes = 6

  /** Element-wise double math over array columns; sums run in array order
    * in both engines. HOF forms kept for the IVF literal-centroid scores
    * and as the cross-check twin of the native expression. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, e) => acc + e)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, e) => acc + e))

  /** Native-kernel norm for the hot normalization scans: √(a·a) via
    * the codegen'd dot kernel — the identical ascending ((0+x₀²)+x₁²)…
    * fold, bit-equal to the HOF [[norm]] (which stays as the
    * cross-check twin). */
  private[graft] def normN(a: Column): Column =
    sqrt(graft.functions.DotProduct.dot_product(a, a))

  /** Normalize an (vec_id, embedding) frame to (vec_id, x) — q273's
    * `vn` exactly (in-order self-dot norm, zero-norm rows dropped).
    * q276/q283, the index artifact and the streaming encode sink read
    * the corpus through this one fold, so the frozen-arm encode is the
    * SAME fold on every face. */
  private[graft] def normalizeFrame(df: DataFrame): DataFrame =
    df.select(col("vec_id"), asDouble(col("embedding")).as("v0"))
      .withColumn("nrm", normN(col("v0")))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        transform(col("v0"), x => x / col("nrm")).as("x"))

  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Hot-path cosine: the native codegen'd expression (one pass, no
    * intermediate arrays, bit-equal to the HOF form — SimilaritySpec). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_sim(a, b)

  private[ext] def asDouble(c: Column): Column = c.cast("array<double>")

  /** Widen a fixture-collapsed input to the session's parallelism.
    * The embeddings fixture is one sub-128MB parquet split, so every
    * map-side stage of the similarity family (assignment argmax,
    * Lloyd stats, residual encode, scoring) ran as ONE task on one
    * core while the other 31 idled — the guide §2.5 "input skew: one
    * file" case, measured 0.6-1.3s single-task stages in the q276
    * job profile. Round-robin repartition to defaultParallelism when
    * (and only when) the input is narrower: at production scale a
    * corpus scan already carries ≥ cores partitions, so this adds NO
    * shuffle there; values are partition-order-free by the family's
    * float doctrine (per-row math, integer-grid folds, tie-broken
    * ranks), which thread_sweep pins across core counts. */
  private[ext] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (estimateParts(df.queryExecution.analyzed, target).exists(_ < target))
      df.repartition(target)
    else df
  }

  /** Partition count of a NARROW plan (projects/filters/generates over
    * one leaf) derived from the logical plan — the previous
    * `.rdd.getNumPartitions` guard instantiated the physical RDD on
    * the driver per call (a second full planning pass of the subtree,
    * guide §1.4). Leaves reproduce Spark's own partitioning math:
    * checkpoint scans expose their (already materialized) RDD, file
    * scans get FilePartition's maxSplitBytes formula over the file-
    * index size, local relations LocalTableScanExec's min(rows,
    * defaultParallelism). None = a node that implies the frame is
    * already shuffle-partition wide (join/agg/repartition/...) or an
    * unknown leaf — widen skips those. */
  private def estimateParts(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      target: Int): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case p: Project => estimateParts(p.child, target)
      case f: Filter => estimateParts(f.child, target)
      case g: Generate => estimateParts(g.child, target)
      case a: SubqueryAlias => estimateParts(a.child, target)
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        Some(r.rdd.getNumPartitions) // field access: RDD exists already
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Some(graft.Tables.splitsForBytes(
              l.relation.sqlContext.sparkSession,
              fs.location.sizeInBytes))
          case _ => None
        }
      case l: LocalRelation =>
        Some(math.min(math.max(l.data.length, 1), target))
      case _ => None
    }
  }

  /** q13 — brute-force cosine top-k for the first NQueries vectors. */
  def bruteForceTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("cos"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rk")
  }

  val bruteForceTopKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_cosine_similarity(q.v, c.v) AS cos
       |  FROM e q JOIN e c ON c.vec_id != q.vec_id
       |  WHERE q.vec_id < $NQueries
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, neighbor_id, round(cos, 6) AS cosine
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  /** q57 — kNN label agreement: for each query vector, the fraction of
    * its top-k cosine neighbors sharing its label — the standard
    * mislabeled-sample / label-noise detector over a training corpus
    * (low agreement = the embedding disagrees with the label). Same
    * scale shape as q13: queries broadcast, candidate side scanned once
    * with no shuffle, per-query top-k over the small scored set, then a
    * constant-size count — agreement is a ratio of integers, so the
    * oracle comparison is exact. */
  def knnLabelAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("qlabel"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"),
        col("vec_id").as("neighbor_id"), col("label").as("nlabel"),
        cosine(col("qv"), col("v")).as("cos"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rk") <= TopK)
      .groupBy(col("query_id"), col("qlabel"))
      .agg(sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
        .as("agree_k"), count(lit(1)).as("k"))
      // divide by the ACTUAL neighbor count, not TopK: a corpus slice
      // with < k candidates would otherwise understate agreement
      .select(col("query_id"), col("qlabel").as("label"), col("agree_k"),
        (col("agree_k").cast("double") / col("k")).as("agreement"))
      .orderBy("query_id")
  }

  val knnLabelAgreementSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.label AS qlabel,
       |         c.vec_id AS neighbor_id, c.label AS nlabel,
       |         list_cosine_similarity(q.v, c.v) AS cos
       |  FROM e q JOIN e c ON c.vec_id != q.vec_id
       |  WHERE q.vec_id < $NQueries
       |), ranked AS (
       |  SELECT query_id, qlabel, nlabel,
       |         row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, qlabel AS label,
       |       CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS agree_k,
       |       CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS agreement
       |FROM ranked WHERE rk <= $TopK
       |GROUP BY query_id, qlabel
       |ORDER BY query_id""".stripMargin

  /** Deterministic ±1 hyperplane component for (plane p, dimension d):
    * parity of the first hex digit of md5("p:d"). Public trick: signed
    * random projections only need iid ±1 components. */
  private def planeSign(p: Int, d: Int): Int =
    if ((Integer.parseInt(java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      .substring(0, 1), 16) & 1) == 1) 1 else -1

  // History: inlining L×Planes×Dim = 1536 ±element terms as expressions
  // was a janino compilation bomb (31s of codegen at bench); plane
  // vectors therefore always travel as array LITERALS.

  /** One sign bit per hyperplane: sign(v · s_p) via the native dot
    * kernel against each literal plane (bit-equal to the HOF loop —
    * same index-order double sums). */
  def srpBits(v: Column): Column = {
    val signs: Seq[Seq[Double]] = (0 until Tables_ * Planes).map(pl =>
      (0 until Dim).map(d => planeSign(pl, d).toDouble))
    array(signs.map(plane =>
      when(graft.functions.DotProduct.dot_product(v, typedlit(plane)) > 0, 1L)
        .otherwise(0L)): _*)
  }

  /** Bucket id of hash table `t` from a precomputed bits array. */
  def srpBucketFromBits(bits: Column, t: Int): Column =
    (0 until Planes).map(p =>
      element_at(bits, t * Planes + p + 1) * lit(1L << p)).reduce(_ + _)

  /** q14 — multi-table SRP-LSH ANN: candidates are the union over L hash
    * tables of same-bucket vectors, then exact cosine top-k on that
    * (small) candidate set. At scale each table's bucket join is a plain
    * shuffle-on-key join; the union dedups on (query, candidate) before
    * the expensive scoring. Recall vs q13 is measured in the spec. */
  /** (vec_id, v, table, bucket) — each vector exploded across its L
    * table buckets; shared by the ANN and near-dup-pair queries. */
  private def hashedVectors(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bits", srpBits(col("v"))) // materialized once per row
    val buckets = array((0 until Tables_).map(t =>
      struct(lit(t).as("t"), srpBucketFromBits(col("bits"), t).as("bucket"))): _*)
    emb.select(col("vec_id"), col("v"), explode(buckets).as("tb"))
      .select(col("vec_id"), col("v"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
  }

  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = hashedVectors(spark, sfDir)
    val queries = hashed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("t").as("qt"), col("bucket").as("qbucket"))
    val cand = hashed.join(broadcast(queries),
        col("t") === col("qt") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qv"), col("v"))
      .dropDuplicates("query_id", "neighbor_id")
    cand
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rk")
  }

  /** IVF geometry: a TRAINED fixed-[[IvfK]] coarse codebook (spherical
    * k-means, [[IvfRounds]] Lloyd rounds, seeded by the IvfK smallest
    * vec_ids) — corpus-INDEPENDENT, so the map-side argmax is O(K) per
    * row at any scale and the serving family has no size cliff (the
    * round-11 id-sampled codebook grew linearly with the corpus:
    * quadratic total assignment work and a hard ceiling past ~205k
    * vectors). Queries probe the NProbe nearest lists. */
  val IvfK = 16
  val IvfRounds = 1
  val NProbe = 3

  /** Integer grid for the IVF Lloyd centroid means: per (cluster, dim)
    * the mean is Σ round(x·1e6) — an exact BIGINT fold, order-free on
    * BOTH engines (the q196 doctrine, unlike the adjudicated float AVG
    * the q108 kernel keeps) — divided once by n·1e6. Budget: |x| ≤ 16
    * after normalization/whitening, so the per-cluster sum stays under
    * int64 up to ~5.7e11 members per cluster. */
  val IvfGrid = 1e6

  /** Trained literal codebook over a (vec_id, vector) frame: seed =
    * the [[IvfK]] smallest vec_ids (TakeOrdered — no full sort), then
    * [[IvfRounds]] Lloyd rounds, each ONE map-only assignment pass
    * (codebook ships as literals) plus one (cid, dim)-keyed partial
    * aggregate whose collect is K·Dim-bounded. A cluster that loses
    * every member keeps its previous centroid, so K never shrinks and
    * both engines agree on the codebook size without re-deriving it. */
  private[ext] def ivfCodebook(e: DataFrame): Array[(Long, Seq[Double])] =
    ivfCodebooks(Seq("x" -> e))("x")

  /** Batched form of [[ivfCodebook]]: trains one codebook per tagged
    * input frame with the SAME per-frame fold (seed TakeOrdered, then
    * per round one integer-grid Lloyd aggregate), but submits each
    * phase for ALL frames as ONE Spark job (a tagged union), so a
    * query training two spaces/arms pays 2 driver round-trips instead
    * of 4 and the branch stages run concurrently inside one job
    * (guide §1.2 "remove passes" / §2.6 "overlap independent jobs").
    * Per-tag values are bit-identical to the sequential trainer: the
    * union only concatenates rows, every group key carries its tag,
    * and the Lloyd sums are order-free exact BIGINT folds. */
  private[ext] def ivfCodebooks(inputs: Seq[(String, DataFrame)])
      : Map[String, Array[(Long, Seq[Double])]] = {
    val seedRows = inputs.map { case (tag, e) =>
      e.toDF("vec_id", "tv").orderBy("vec_id").limit(IvfK)
        .select(lit(tag).as("tag"), col("vec_id"), col("tv"))
    }.reduce(_ unionAll _).collect()
    var codes: Map[String, Array[(Long, Seq[Double])]] =
      inputs.map { case (tag, _) =>
        tag -> seedRows.filter(_.getString(0) == tag)
          .map(r => r.getLong(1) -> r.getSeq[Double](2).toSeq)
          .sortBy(_._1)
      }.toMap
    for (_ <- 1 to IvfRounds) {
      val stats = inputs.map { case (tag, e) =>
        // cid staged in its OWN projection BELOW the explode: selecting
        // a non-trivial expression alongside a generator plans it in a
        // Project ABOVE Generate, re-evaluating the K-cosine argmax per
        // EXPLODED row (Dim× per vector — measured 2.2× on this job)
        e.toDF("vec_id", "tv").select(
            ivfAssign(codes(tag).toSeq, col("tv")).as("cid"),
            col("tv"))
          .select(col("cid"), posexplode(col("tv")).as(Seq("i", "x")))
          .groupBy("cid", "i")
          .agg(sum(round(col("x") * IvfGrid, 0).cast("long")).as("sx"),
            count(lit(1)).as("n"))
          .select(lit(tag).as("tag"), col("cid"), col("i"), col("sx"),
            col("n"))
      }.reduce(_ unionAll _).collect()
      codes = codes.map { case (tag, code) =>
        val byCid = stats.filter(_.getString(0) == tag).groupBy(_.getLong(1))
        tag -> code.map { case (cid, prev) =>
          byCid.get(cid).fold(cid -> prev) { rows =>
            cid -> rows.sortBy(_.getInt(2))
              .map(r => r.getLong(3).toDouble / (r.getLong(4) * IvfGrid))
              .toSeq
          }
        }
      }
    }
    codes
  }

  /** DuckDB CTE chain replicating [[ivfCodebook]] over `src`.`vcol`
    * (rows optionally filtered by `pred`): `{out}_s0` seeds with the
    * IvfK smallest vec_ids, each round r adds an assignment CTE
    * `{out}_a{r}` and an integer-grid mean CTE `{out}_m{r}`, and the
    * final `{out}(cid, cv)` keeps the previous centroid for emptied
    * clusters — exactly the Scala trainer's fold, so the codebooks are
    * bit-identical across engines. The dim loop cross-joins a
    * generate_series and filters to len(tv), so ragged widths (q269's
    * retained-component lists) index safely. */
  private[ext] def ivfCentCtes(out: String, src: String, vcol: String,
      pred: String = "TRUE"): String = {
    val rounds = (1 to IvfRounds).map { r =>
      val prev = if (r == 1) s"${out}_s0" else s"${out}_k${r - 1}"
      s"""${out}_a$r AS MATERIALIZED (
         |  SELECT vec_id, tv, cid FROM (
         |    SELECT s.vec_id, s.$vcol AS tv, c.cid,
         |           row_number() OVER (PARTITION BY s.vec_id
         |             ORDER BY list_cosine_similarity(s.$vcol, c.cv) DESC,
         |               c.cid) AS rn
         |    FROM $src s, $prev c WHERE ($pred)) WHERE rn = 1
         |), ${out}_m$r AS (
         |  SELECT cid, list(m ORDER BY i) AS cv FROM (
         |    SELECT cid, g.i,
         |           CAST(CAST(SUM(CAST(round(tv[g.i] * $IvfGrid) AS BIGINT))
         |                     AS BIGINT) AS DOUBLE)
         |           / (CAST(COUNT(*) AS DOUBLE) * $IvfGrid) AS m
         |    FROM ${out}_a$r,
         |         (SELECT unnest(generate_series(1, $Dim)) AS i) g
         |    WHERE g.i <= len(tv)
         |    GROUP BY cid, g.i)
         |  GROUP BY cid
         |), ${out}_k$r AS (
         |  SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
         |  FROM ${if (r == 1) s"${out}_s0" else s"${out}_k${r - 1}"} p
         |  LEFT JOIN ${out}_m$r m ON m.cid = p.cid
         |)""".stripMargin
    }.mkString(",\n")
    s"""${out}_s0 AS (
       |  SELECT vec_id AS cid, $vcol AS cv FROM $src WHERE ($pred)
       |  ORDER BY vec_id LIMIT $IvfK
       |),
       |$rounds,
       |$out AS MATERIALIZED (SELECT cid, cv FROM ${out}_k$IvfRounds)""".stripMargin
  }

  /** Fused native argmax over a literal codebook — bit-equal to
    * `-sort_array(ivfScores(...), desc)(0)("ncid")` (same cosine
    * kernel, Spark's NaN-safe double total order, ties to the
    * smallest cid) without K struct allocations + an interpreted
    * struct sort per row (guide §4; measured dominant in every
    * assignment/Lloyd/encode stage at K=16). */
  private[graft] def ivfAssign(cents: Seq[(Long, Seq[Double])],
      v: Column): Column =
    graft.functions.NearestCosineCentroid.nearest_cos_centroid(v, cents)

  /** `src` (vec_id, x) plus its nearest coarse centroid `cid` and the
    * residual `rv` = x − centroid[cid] — the input every residual-PQ
    * trainer ([[pqBooksBatch]]) reads. */
  private[ext] def residuals(cents: Array[(Long, Seq[Double])],
      src: DataFrame): DataFrame = {
    val centMap = typedlit(cents.toMap)
    src.withColumn("cid", ivfAssign(cents.toSeq, col("x")))
      .withColumn("rv",
        zip_with(col("x"), element_at(centMap, col("cid")),
          (a, b) => a - b))
  }

  /** Struct array of (cos to each centroid, -cid); sort_array desc picks
    * highest cos with SMALLEST cid on ties (matching ORDER BY cos DESC,
    * cid). */
  private[ext] def ivfScores(cents: Array[(Long, Seq[Double])], v: Column): Column =
    array(cents.toSeq.map { case (cid, cv) =>
      struct(cosine(v, typedlit(cv)).as("cos"), lit(-cid).as("ncid"))
    }: _*)

  /** q25 — IVF ANN. Assignment is a MAP-ONLY pass: the (small) codebook
    * is collected and inlined as literal vectors, so each row computes
    * its nearest centroid with zero shuffle — exactly how IVF ships its
    * codebook to workers. Candidates then join by list id (cid): one
    * shuffle keyed by cid; hot lists are the skew point, handled by AQE. */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = ivfCodebook(e)
    def scores(v: Column): Column = ivfScores(cents, v)

    val assigned = e
      .withColumn("cid", ivfAssign(cents.toSeq, col("v")))
    val probes = assigned.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(transform(
          slice(sort_array(scores(col("v")), asc = false), 1, NProbe),
          s => -s("ncid"))).as("cid"))
    val scored = probes.join(assigned.select(col("cid"), col("vec_id"), col("v")), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("cos"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rk")
  }

  val annIvfSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${ivfCentCtes("cent", "e", "v")},
       |asg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e, cent c) WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e, cent c WHERE e.vec_id < $NQueries) WHERE rn <= $NProbe
       |), cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN asg a ON a.cid = p.cid
       |  WHERE a.vec_id != p.query_id
       |), scored AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |         list_cosine_similarity(eq.v, ec.v) AS cos
       |  FROM cand cd JOIN e eq ON eq.vec_id = cd.query_id
       |  JOIN e ec ON ec.vec_id = cd.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT query_id, rk, neighbor_id, round(cos, 6) AS cosine
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  /** DuckDB CTE prefix computing the same (vec_id, v, t, bucket) rows. */
  private def hashedCteSql: String = {
    def planeExprs(t: Int): String = (0 until Planes).map { p =>
      val terms = (0 until Dim).map { d =>
        val sgn = if (planeSign(t * Planes + p, d) > 0) "+" else "-"
        s"$sgn v[${d + 1}]"
      }.mkString(" ")
      s"CASE WHEN ($terms) > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
    val tables = (0 until Tables_).map(t =>
      s"SELECT vec_id, v, $t AS t, CAST(${planeExprs(t)} AS BIGINT) AS bucket FROM e")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |hashed AS ($tables)""".stripMargin
  }

  val annLshSql: String =
    s"""$hashedCteSql,
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM hashed q JOIN hashed c
       |    ON c.t = q.t AND c.bucket = q.bucket AND c.vec_id != q.vec_id
       |  WHERE q.vec_id < $NQueries
       |), scored AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |         list_cosine_similarity(eq.v, ec.v) AS cos
       |  FROM cand cd
       |  JOIN e eq ON eq.vec_id = cd.query_id
       |  JOIN e ec ON ec.vec_id = cd.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, neighbor_id, round(cos, 6) AS cosine
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  /** Cosine floor for q27's near-dup pair mining. The fixture plants no
    * true duplicates (max pairwise cos ≈ 0.51), so the floor sits where
    * the operator provably returns work; production dedup would run at
    * 0.95+ where SRP recall is near 1. */
  val NearDupCos = 0.45

  /** q27 — embedding-cosine near-dup pairs, LSH-prefiltered: candidate
    * pairs share an SRP bucket in ≥1 table (approximate BY DESIGN — the
    * oracle mirrors the same buckets), then exact cosine ≥ NearDupCos.
    * At scale this is the all-pairs-similarity shape: bucket-local
    * self-join instead of the quadratic cross join. */
  def embeddingNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    // candidate generation shuffles BARE IDS — carrying the 64-double
    // vectors through the bucket join + dedup shuffle measured 15.1s at
    // sf0.1; re-attaching them afterwards by id cut it to ~3s. The
    // re-attach joins are deliberately unhinted: the vector table is
    // corpus-proportional, so AQE broadcasts it only while it is small
    // and shuffles on vec_a/vec_b at 100 TB (PlanSpec pins this).
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val hashed = hashedVectors(spark, sfDir)
      .select(col("t"), col("bucket"), col("vec_id"))
    val cand = hashed.as("a")
      .join(hashed.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("v").as("va")),
        Seq("vec_a"))
      .join(emb.select(col("vec_id").as("vec_b"), col("v").as("vb")),
        Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= NearDupCos)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  val embeddingNearDupsSql: String =
    s"""$hashedCteSql,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM hashed a JOIN hashed b
       |    ON b.t = a.t AND b.bucket = a.bucket AND a.vec_id < b.vec_id
       |), scored AS (
       |  SELECT c.vec_a, c.vec_b, list_cosine_similarity(ea.v, eb.v) AS cos
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.vec_a
       |  JOIN e eb ON eb.vec_id = c.vec_b
       |)
       |SELECT vec_a, vec_b, round(cos, 6) AS cosine
       |FROM scored WHERE cos >= $NearDupCos
       |ORDER BY vec_a, vec_b""".stripMargin

  /** q81 — ANN quality evaluation: recall@k of the SRP-LSH index (q14)
    * against the exact brute-force neighbors (q13), per query vector —
    * the "measure, don't guess" step that decides whether an
    * approximate index is allowed to replace the exact scan in a
    * production corpus. A left join keeps queries whose LSH recall is
    * ZERO (bucket miss) visible instead of silently dropping them.
    * Both inputs are deterministic, so recall is a ratio of integers —
    * engine-exact with no rounding. Cost: both sides are the existing
    * top-k pipelines; the final join touches NQueries·k rows. */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = bruteForceTopK(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    val approx = annLsh(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / col("k").cast("double")).as("recall"))
      .orderBy("query_id")
  }

  val annRecallSql: String =
    s"""WITH exact_k AS ($bruteForceTopKSql),
       |approx_k AS ($annLshSql)
       |SELECT e.query_id,
       |       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
       |         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
       |         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall
       |FROM exact_k e
       |LEFT JOIN approx_k a
       |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** q242's nDCG discount weights, ×10⁶ as exact BIGINT literals:
    * w(i) = round(10⁶ / log₂(i+1)) for ranks 1..[[TopK]]. Computed
    * ONCE in Scala and interpolated into both engines, so no runtime
    * `log` is ever called and the DCG sum is exact integer
    * arithmetic — the round-5 scaled-integer float policy. */
  val NdcgWeightsE6: Seq[Long] =
    (1 to TopK).map(i => math.round(1e6 * math.log(2.0) / math.log(i + 1.0)))

  /** Ideal DCG ×10⁶ — all [[TopK]] slots relevant, the constant
    * denominator nDCG normalizes by. */
  val IdcgE6: Long = NdcgWeightsE6.sum

  /** q242 — ANN ranking quality beyond recall: MRR and nDCG@k of the
    * SRP-LSH index (q14's ranked list) against q13's exact top-k.
    * Recall (q81) only counts set overlap; a serving index also has to
    * put the right neighbors EARLY, which is what the reciprocal first-
    * hit rank and the log-discounted gain measure — the ranking-quality
    * half of an ANN acceptance gate.
    *
    * Determinism: relevance is binary (approx neighbor ∈ exact top-k),
    * the discount weights are pre-scaled integer literals
    * ([[NdcgWeightsE6]]), so per-query DCG is an EXACT integer sum in
    * both engines (order-free); mrr and ndcg are each one float
    * division from exact integers, rounded at the edge.
    *
    * Scale shape: two NQueries-bounded ranked lists (the q13/q14
    * shapes, PlanSpec-exempt), one equi-join on (query, neighbor),
    * one |queries|-row aggregate. Nothing corpus-proportional past
    * the candidate stage. */
  def annRankQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val wArr = array(NdcgWeightsE6.map(lit): _*)
    val exact = bruteForceTopK(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    val approx = annLsh(spark, sfDir)
      .select(col("query_id"), col("rk"), col("neighbor_id"))
    val per = approx
      .join(exact.withColumn("rel", lit(1L)), Seq("query_id", "neighbor_id"),
        "left")
      .select(col("query_id"), col("rk"),
        coalesce(col("rel"), lit(0L)).as("rel"))
      .groupBy("query_id")
      .agg(sum("rel").as("n_hits"),
        min(when(col("rel") === 1L, col("rk"))).as("fh"),
        sum(when(col("rel") === 1L,
            element_at(wArr, col("rk").cast("int"))).otherwise(0L))
          .as("dcg_e6"))
    // the query-id axis comes from the slim embeddings scan, NOT a
    // second evaluation of the exact-topk subplan (one corpus pass)
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("query_id"))
      .filter(col("query_id") < NQueries)
      .join(per, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("fh"), lit(0L)).as("first_hit"),
        round(when(col("fh").isNotNull,
            lit(1.0) / col("fh").cast("double")).otherwise(0.0), 6)
          .as("mrr"),
        coalesce(col("dcg_e6"), lit(0L)).as("dcg_e6"),
        round(coalesce(col("dcg_e6"), lit(0L)).cast("double") /
          lit(IdcgE6.toDouble), 6).as("ndcg"))
      .orderBy("query_id")
  }

  val annRankQualitySql: String = {
    val wList = NdcgWeightsE6.mkString(", ")
    s"""WITH exact_k AS ($bruteForceTopKSql),
       |approx_k AS ($annLshSql),
       |rel AS (
       |  SELECT a.query_id, a.rk,
       |         CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END
       |           AS rel
       |  FROM approx_k a LEFT JOIN exact_k e
       |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |), per AS (
       |  SELECT query_id,
       |         CAST(SUM(rel) AS BIGINT) AS n_hits,
       |         MIN(CASE WHEN rel = 1 THEN rk END) AS fh,
       |         CAST(COALESCE(SUM(CASE WHEN rel = 1
       |             THEN [$wList][rk] ELSE 0 END), 0) AS BIGINT) AS dcg_e6
       |  FROM rel GROUP BY 1
       |), q AS (SELECT vec_id AS query_id FROM embeddings
       |         WHERE vec_id < $NQueries)
       |SELECT q.query_id,
       |       COALESCE(p.n_hits, 0) AS n_hits,
       |       CAST(COALESCE(p.fh, 0) AS BIGINT) AS first_hit,
       |       round(CASE WHEN p.fh IS NOT NULL
       |             THEN CAST(1.0 AS DOUBLE) / CAST(p.fh AS DOUBLE)
       |             ELSE 0.0 END, 6) AS mrr,
       |       COALESCE(p.dcg_e6, 0) AS dcg_e6,
       |       round(COALESCE(p.dcg_e6, 0)::DOUBLE
       |             / CAST($IdcgE6 AS DOUBLE), 6) AS ndcg
       |FROM q LEFT JOIN per p USING (query_id)
       |ORDER BY query_id""".stripMargin
  }

  /** q185 — the IVF TUNING CURVE: recall@k and candidates scanned as a
    * function of nprobe (1 / 2 / 4 probed lists) against q13's exact
    * top-k — the measurement that picks an operating point on the
    * recall-vs-work tradeoff before an approximate index is allowed to
    * serve (q81's "measure, don't guess" rule, swept across the knob a
    * production IVF actually exposes). All counts are integers (hits,
    * candidates); recall divides by the constant NQueries·TopK — one
    * identical IEEE division on both engines.
    *
    * Scale shape: one assignment pass (map-only literal codebook), one
    * cid-keyed candidate join for the WIDEST setting, then the sweep
    * reuses those candidates by probe rank — the narrower settings are
    * filters, not re-scans. Candidate volume per query is bounded by
    * the probed lists' sizes, never the corpus. */
  val ProbeSweep: Seq[Int] = Seq(1, 2, 4)

  def ivfProbeSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = ivfCodebook(e)
    val maxP = ProbeSweep.max
    val assigned = e.withColumn("cid", ivfAssign(cents.toSeq, col("v")))
    val probes = assigned.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        posexplode(transform(
          slice(sort_array(ivfScores(cents, col("v")), asc = false), 1, maxP),
          s => -s("ncid"))))
      .select(col("query_id"), col("qv"),
        (col("pos") + 1).as("prank"), col("col").as("cid"))
    // each vector lives in exactly ONE list, so (query, neighbor) pairs
    // are unique and carry the probe rank of the neighbor's list
    val cand = probes
      .join(assigned.select(col("cid"), col("vec_id"), col("v")), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("prank"),
        col("vec_id").as("neighbor_id"), cosine(col("qv"), col("v")).as("cos"))
    val sweep = cand
      .select(col("query_id"), col("prank"), col("neighbor_id"), col("cos"),
        explode(typedlit(ProbeSweep)).as("nprobe"))
      .filter(col("prank") <= col("nprobe"))
    val topk = sweep
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("nprobe"), col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rk") <= TopK)
    val exact = bruteForceTopK(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    val hits = topk.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    val cands = sweep.groupBy("nprobe")
      .agg(count(lit(1)).as("n_candidates"))
    cands.join(hits, Seq("nprobe"), "left")
      .select(col("nprobe").cast("int").as("nprobe"), col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit((NQueries * TopK).toDouble)).as("recall"))
      .orderBy("nprobe")
  }

  val ivfProbeSweepSql: String = {
    val maxP = ProbeSweep.max
    val sweepVals = ProbeSweep.map(p => s"($p)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${ivfCentCtes("cent", "e", "v")},
       |asg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e, cent c) WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid, rn AS prank FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e, cent c WHERE e.vec_id < $NQueries) WHERE rn <= $maxP
       |), cand AS (
       |  SELECT p.query_id, p.prank, a.vec_id AS neighbor_id,
       |         list_cosine_similarity(eq.v, a.v) AS cos
       |  FROM probes p
       |  JOIN asg a ON a.cid = p.cid AND a.vec_id != p.query_id
       |  JOIN e eq ON eq.vec_id = p.query_id
       |), sweep AS (
       |  SELECT s.nprobe, c.query_id, c.prank, c.neighbor_id, c.cos
       |  FROM cand c CROSS JOIN (VALUES $sweepVals) s(nprobe)
       |  WHERE c.prank <= s.nprobe
       |), ranked AS (
       |  SELECT nprobe, query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY nprobe, query_id
       |           ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM sweep
       |), exact_k AS ($bruteForceTopKSql),
       |hits AS (
       |  SELECT r.nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM ranked r
       |  WHERE r.rk <= $TopK AND EXISTS (
       |    SELECT 1 FROM exact_k x
       |    WHERE x.query_id = r.query_id AND x.neighbor_id = r.neighbor_id)
       |  GROUP BY 1
       |), cands AS (
       |  SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates
       |  FROM sweep GROUP BY 1
       |)
       |SELECT c.nprobe, c.n_candidates,
       |       COALESCE(h.n_hits, 0) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / ${NQueries * TopK}.0
       |         AS recall
       |FROM cands c LEFT JOIN hits h USING (nprobe)
       |ORDER BY nprobe""".stripMargin
  }

  /** q78 — embedding-corpus hygiene report, per label: vector counts,
    * dimensionality bounds (a ragged dim is an upstream bug), L2-norm
    * envelope, and degenerate (near-zero-norm) counts — the sanity
    * pass before any ANN/kNN consumer trusts the corpus. Norms run
    * through the same index-ordered sum as the cosine kernels, so
    * min/max pick identical values in both engines; only the
    * cross-row mean needs the round(6) guard (row order is shuffle-
    * dependent). One scan, one (label)-keyed agg — at 100 TB this is
    * scan-bound, exactly what a hygiene sweep should be. */
  val DegenerateNorm = 1e-6

  def embeddingStats(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("label"), asDouble(col("embedding")).as("v"))
      .select(col("label"), size(col("v")).as("dim"), norm(col("v")).as("nrm"))
    emb.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("dim").as("min_dim"), max("dim").as("max_dim"),
        round(min("nrm"), 6).as("min_norm"),
        round(max("nrm"), 6).as("max_norm"),
        // exact integer mean (q196 doctrine): AVG over float norms is
        // an unordered fold, a latent flake on the round(6) grid
        Exact.mean9(col("nrm")).as("avg_norm"),
        sum(when(col("nrm") < DegenerateNorm, 1L).otherwise(0L))
          .as("n_degenerate"))
      .orderBy("label")
  }

  val embeddingStatsSql: String =
    s"""WITH e AS (
       |  SELECT label, len(embedding) AS dim,
       |         sqrt(list_dot_product(embedding::DOUBLE[],
       |                               embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |       CAST(MIN(dim) AS INT) AS min_dim,
       |       CAST(MAX(dim) AS INT) AS max_dim,
       |       round(MIN(nrm), 6) AS min_norm,
       |       round(MAX(nrm), 6) AS max_norm,
       |       ${Exact.mean9Sql("nrm")} AS avg_norm,
       |       CAST(SUM(CASE WHEN nrm < $DegenerateNorm THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_degenerate
       |FROM e GROUP BY label ORDER BY label""".stripMargin

  /** k-means geometry for q108: K clusters, `KmeansRounds` Lloyd
    * recompute rounds, init = the first K vectors by vec_id (q25's
    * deterministic-codebook discipline; at scale you'd k-means|| the
    * init by hash-sampling, the loop below is unchanged). */
  val KmeansK = 8
  val KmeansRounds = 2

  /** Nearest-centroid id for a literal codebook: highest cosine wins,
    * ties break to the SMALLEST cid (struct sort on (cos, -cid), the
    * q25 trick) — returns (cid, cos) so the winner's score isn't
    * recomputed. */
  private def nearest(v: Column, code: Seq[(Long, Seq[Double])]): (Column, Column) = {
    val best = sort_array(array(code.map { case (cid, cv) =>
      struct(cosine(v, typedlit(cv)).as("cos"), lit(-cid).as("ncid"))
    }: _*), asc = false)(0)
    (-best("ncid"), best("cos"))
  }

  /** Lloyd's iterations over an (vec_id, v) frame. Each round is one
    * map-only assignment pass (codebook ships as literals — zero
    * shuffle, the q25 IVF shape) plus one centroid recompute:
    * posexplode to (cid, dim, x) and groupBy(cid, dim) — partial
    * aggregation makes the shuffle |partitions|·K·Dim rows, NOT N·Dim,
    * so the recompute is scan-bound at any corpus size. The K·Dim
    * means collected per round are codebook-sized (the same bounded
    * collect q25 documents); clusters that lose every member drop out
    * of the codebook. Cosine against an unnormalized mean ≡ spherical
    * k-means (cosine is scale-invariant, no renormalize pass needed).
    */
  // Float-fold doctrine note (round-12 verdict #4): this kernel and its
  // kmeansAfCteSql twin keep the adjudicated q108-era float AVG — its
  // centroid VALUES never reach a hash-compared output (they feed only
  // discrete assignments plus per-row cosines that re-round at the
  // edge), unlike the PQ books, which since q277 land on an e6-grid
  // census and therefore ride the exact PqGrid fold.
  def kmeansCodebook(e: DataFrame, k: Int, rounds: Int): Seq[(Long, Seq[Double])] = {
    var code: Seq[(Long, Seq[Double])] = e.filter(col("vec_id") < k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).toSeq
    for (_ <- 1 to rounds) {
      // cid staged BELOW the explode: selected alongside a generator it
      // would plan in a Project above Generate and re-run the K-cosine
      // argmax per exploded row (Dim× per vector); the staged shape
      // feeds the agg the same rows in the same order — values
      // unchanged, including this kernel's adjudicated float fold
      val stats = e
        .select(ivfAssign(code, col("v")).as("cid"), col("v"))
        .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cid", "i")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      code = stats.groupBy(_.getLong(0)).map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1))
          .map(r => r.getDouble(2) / r.getLong(3)).toSeq
      }.toSeq.sortBy(_._1)
    }
    code
  }

  /** q108 — spherical k-means over the corpus embeddings: the codebook
    * TRAINING pass q25's IVF deliberately skips, exposed as a cluster
    * profile (size + cohesion per cluster). Semantic-dedup pipelines
    * run exactly this to group near-duplicate meaning before sampling
    * within clusters. The final assignment is one more map-only pass
    * with the trained codebook; avg cohesion rounds to 6 dp (cross-row
    * sum order is shuffle-dependent; the per-row cosines themselves
    * are bit-equal across engines via index-ordered folds). */
  def kmeansClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val code = kmeansCodebook(e, KmeansK, KmeansRounds)
    val (cid, cos) = nearest(col("v"), code)
    val a = e.select(cid.as("cid"), cos.as("cos"))
    a.groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        // exact integer mean (q196 doctrine) — the Lloyd CENTROID
        // means stay float AVGs by adjudication (they feed discrete
        // assignments, knife-edge only on geometric ties); this mean
        // lands on the round(6) output grid, so it folds integers
        Exact.mean9(col("cos")).as("avg_cos"))
      .orderBy("cid")
  }

  /** Cosine threshold for q132's within-cluster semantic duplicates.
    * The fixture embeddings are near-orthogonal (pairwise cosine tops
    * out ≈0.51), so 0.4 marks the genuinely-close tail; production
    * SemDeDup runs 0.95+ on real encoder output — the knob, not the
    * plan, changes. */
  val SemDedupTau = 0.4

  /** q132 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings with k-means (the q108
    * codebook) and comparing pairs ONLY within a cluster. A vector is a
    * duplicate when some EARLIER (lower vec_id) member of its own
    * cluster has cosine ≥ [[SemDedupTau]] — keep-the-first, the same
    * survivor rule as q62. Output: every vector with its cluster, its
    * earlier-duplicate count, the smallest such partner, and the keep
    * verdict.
    *
    * Scale shape: this is exactly why SemDeDup clusters first — the
    * quadratic pair comparison is confined to single clusters, and K
    * grows with the corpus (paper uses 50k clusters for LAION) so
    * E[cluster size] stays bounded and the within-cluster self-join is
    * a bucketed join on cid, never a global cross product. A runaway
    * hot cluster is AQE-skew-split (or salted, q44) like any hot key.
    * Float policy: the threshold tests the ROUNDED (6 dp) cosine, so
    * the verdict can only diverge across engines where the rounded
    * score itself would (the q122 discipline). */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val code = kmeansCodebook(e, KmeansK, KmeansRounds)
    val a = e.select(col("vec_id"),
      ivfAssign(code, col("v")).as("cid"), col("v"))
    val dups = a.as("x")
      .join(a.as("y"),
        col("x.cid") === col("y.cid") && col("y.vec_id") < col("x.vec_id"))
      .filter(round(cosine(col("x.v"), col("y.v")), 6) >= SemDedupTau)
      .groupBy(col("x.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_earlier_dups"), min(col("y.vec_id")).as("dup_of"))
    a.select(col("vec_id"), col("cid"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"),
        col("dup_of"),
        col("n_earlier_dups").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** PQ geometry for q111: M subspaces of Dim/M dims, K centroids per
    * subspace, `PqRounds` Lloyd rounds each, trained on the NORMALIZED
    * corpus so inner product ≡ cosine and ADC ranks like q13. K stays
    * 16 (a 4-bit code) and the whole codebook is M·K·(Dim/M) = 1024
    * doubles — the classic 64-dim→8-byte compression. */
  val PqM = 8
  val PqK = 16
  val PqRounds = 1
  private[ext] val PqSub = Dim / PqM

  /** Integer grid for the PQ Lloyd book means — the [[IvfGrid]]
    * doctrine applied to the residual/subvector books (round-12
    * verdict #4): per (subspace, cluster, dim) the mean is
    * Σ round(x·1e6) folded as an exact BIGINT (associative and
    * order-free on BOTH engines), divided once by n·1e6 at the edge.
    * Components are ≤ 2 in magnitude after normalization, so the
    * per-cluster sum stays inside int64 to ~4.6e12 members. The books
    * feed discrete code assignments AND (since q277) an e6-grid value
    * census that the oracle hash compares, so their VALUES must be
    * bit-identical across engines and thread schedules — the float
    * AVG this replaces was empirically stable (12 rounds of clean
    * thread sweeps) but doctrinally exempt; now the whole PQ family
    * rides the same exact fold as [[ivfCodebook]]. */
  val PqGrid = 1e6

  /** q111 — product-quantization ANN with asymmetric-distance (ADC)
    * scoring: train a k-means codebook PER SUBSPACE (the q108 kernel on
    * sliced vectors), encode every vector as M small codes, and score
    * query→candidate as Σ_s dot(q_s, centroid_s[code_s]) — the exact
    * query side against the compressed candidate side. At 100 TB this
    * is THE memory lever: candidates ride the scan as M·log2(K) bits
    * each (8 bytes here vs 256) and scoring is M table lookups per
    * pair, while training/codebooks stay bounded (M·K·subdim doubles).
    *
    * Cross-engine determinism: vectors normalize by the in-order
    * self-dot norm, codebooks derive from the same literal-seed Lloyd
    * rounds both engines run, codes look up centroids BY CID (map
    * literal here, join there — robust to a cluster emptying out), and
    * the M ADC terms add in fixed subspace order (left-associated in
    * both engines). Ranking knife-edges would need two approx scores
    * within ~1e-12 — the q108 acceptance, extended to ranks. */
  def pqAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v0"))
      .withColumn("nrm", normN(col("v0")))
      .filter(col("nrm") > 0)
    // pin the normalized corpus once: the M per-subspace trainings are
    // 3 actions each (seed, Lloyd stats, final assign) and every one
    // would otherwise re-scan and re-normalize the full table — 24+
    // redundant passes at M=8. At 100 TB the training side would run
    // over a sample; the checkpoint materializes exactly what the
    // trainer re-reads.
    val e = e0.select(col("vec_id"),
      transform(col("v0"), x => x / col("nrm")).as("v"))
      .localCheckpoint()
    // all M subspace codebooks train TOGETHER: one seed collect and one
    // Lloyd-stats job per round cover every subspace (vs M×3 jobs when
    // each slice trains alone — measured 2.5× on q111). Semantics are
    // kmeansCodebook's exactly: same nearest() tiebreak, same mean
    // update, clusters that empty out drop from that subspace's book.
    val seedRows = e.filter(col("vec_id") < PqK)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1).toSeq
    var books: Seq[Seq[(Long, Seq[Double])]] = (0 until PqM).map { s =>
      seedRows.map { case (cid, v) =>
        cid -> v.slice(s * PqSub, s * PqSub + PqSub).toSeq }
    }
    for (_ <- 1 to PqRounds) {
      val subs = (0 until PqM).map { s =>
        // offset-window argmax kernel: cosine over v's [s·sub, (s+1)·sub)
        // window directly — no per-row slice allocation for the argmax
        // (bit-equal to ivfAssign ∘ slice: same fold, same NaN-first
        // strict-greater tiebreak); the sv slice stays for the
        // posexplode payload only
        struct(lit(s).as("s"),
          graft.functions.NearestCosineCentroid.nearest_cos_centroid_off(
            col("v"), s * PqSub, books(s)).as("cid"),
          slice(col("v"), s * PqSub + 1, PqSub).as("sv"))
      }
      val stats = e.select(explode(array(subs: _*)).as("sub"))
        .select(col("sub.s").as("s"), col("sub.cid").as("cid"),
          posexplode(col("sub.sv")).as(Seq("i", "x")))
        .groupBy("s", "cid", "i")
        .agg(sum(round(col("x") * PqGrid, 0).cast("long")).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      books = (0 until PqM).map { s =>
        stats.filter(_.getInt(0) == s).groupBy(_.getLong(1))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(2))
              .map(r => r.getLong(3).toDouble / (r.getLong(4) * PqGrid)).toSeq
          }.toSeq.sortBy(_._1)
      }
    }
    val codes = (0 until PqM).map { s =>
      graft.functions.NearestCosineCentroid.nearest_cos_centroid_off(
        col("v"), s * PqSub, books(s)).as(s"c$s")
    }
    val enc = e.select(col("vec_id") +: codes: _*)
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // native dot kernel (ascending-index left-assoc fold, bit-equal to
    // the HOF form — SimilaritySpec) keeps the corpus-sized ADC scoring
    // pass inside whole-stage codegen instead of interpreting a lambda
    // per element (guide §4: built-ins/codegen expressions in hot paths)
    val terms = (0 until PqM).map { s =>
      // offset-dot kernel: no per-(pair × subspace) slice allocation on
      // the corpus × queries scoring scan (same fold, bit-equal)
      graft.functions.DotProductOffset.dot_product_off(
        col("qv"), s * PqSub,
        element_at(typedlit(books(s).toMap), col(s"c$s")))
    }
    enc.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        terms.reduceLeft(_ + _).as("acos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("acos").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("acos"), 6).as("approx_cos"))
      .orderBy("query_id", "rk")
  }

  val pqAnnSql: String = {
    require(PqRounds == 1, "pqAnnSql unrolls exactly one Lloyd round")
    def lo(s: Int) = s * PqSub + 1
    def hi(s: Int) = (s + 1) * PqSub
    def sub(s: Int) = s"v[${lo(s)}:${hi(s)}]"
    // per subspace: seed codebook, `PqRounds` assign+recompute rounds,
    // then the final assignment = that vector's code
    val perSub = (0 until PqM).map { s =>
      // assignment is by COSINE (the q108 kernel's metric; both the
      // Lloyd rounds and the final encode must match Spark's
      // kmeansCodebook/nearest), scoring by dot
      def assign(cb: String, out: String) =
        s"""$out AS (
           |  SELECT vec_id, v, cid FROM (
           |    SELECT e.vec_id, ${sub(s)} AS v, c.cid,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY list_cosine_similarity(${sub(s)}, c.cv) DESC, c.cid) AS rn
           |    FROM e, $cb c) WHERE rn = 1
           |)""".stripMargin
      def assignFromSub(cb: String, out: String) =
        s"""$out AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT a.vec_id, c.cid,
           |           row_number() OVER (PARTITION BY a.vec_id
           |             ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid) AS rn
           |    FROM a${s}_1 a, $cb c) WHERE rn = 1
           |)""".stripMargin
      def recompute(asg: String, out: String) =
        s"""$out AS (
           |  SELECT cid, list(m ORDER BY i) AS cv FROM (
           |    SELECT cid, i,
           |           CAST(CAST(SUM(CAST(round(v[i] * $PqGrid) AS BIGINT))
           |                     AS BIGINT) AS DOUBLE)
           |           / (CAST(COUNT(*) AS DOUBLE) * $PqGrid) AS m
           |    FROM $asg, (SELECT unnest(generate_series(1, $PqSub)) AS i)
           |    GROUP BY cid, i)
           |  GROUP BY cid
           |)""".stripMargin
      Seq(
        s"c${s}_0 AS (SELECT vec_id AS cid, ${sub(s)} AS cv FROM e WHERE vec_id < $PqK)",
        assign(s"c${s}_0", s"a${s}_1"),
        recompute(s"a${s}_1", s"c${s}_1"),
        assignFromSub(s"c${s}_1", s"code$s")
      ).mkString(",\n")
    }.mkString(",\n")
    val codeJoins = (0 until PqM)
      .map(s => s"JOIN code$s ON code$s.vec_id = e.vec_id").mkString(" ")
    val codeCols = (0 until PqM).map(s => s"code$s.cid AS c$s").mkString(", ")
    val termJoins = (0 until PqM)
      .map(s => s"JOIN c${s}_1 k$s ON k$s.cid = cd.c$s").mkString(" ")
    val termSum = (0 until PqM)
      .map(s => s"list_dot_product(q.qv[${lo(s)}:${hi(s)}], k$s.cv)")
      .mkString(" + ")
    s"""WITH e0 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v0,
       |         sqrt(list_dot_product(embedding::DOUBLE[],
       |                               embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), e AS (
       |  SELECT vec_id, list_transform(v0, x -> x / nrm) AS v
       |  FROM e0 WHERE nrm > 0
       |),
       |$perSub,
       |codes AS (SELECT e.vec_id, $codeCols FROM e $codeJoins),
       |queries AS (SELECT vec_id AS query_id, v AS qv FROM e
       |            WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.query_id, cd.vec_id AS neighbor_id, $termSum AS acos
       |  FROM codes cd JOIN queries q ON cd.vec_id != q.query_id $termJoins
       |), ranked AS (
       |  SELECT query_id, neighbor_id, acos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY acos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, neighbor_id, round(acos, 6) AS approx_cos
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin
  }

  /** Shared oracle prefix for q108/q132: unrolls the SAME Lloyd rounds
    * as unnamed CTE stages (cN = codebook entering round N+1, aN = the
    * assignment under cN) and ends on `af`, the final assignment
    * (vec_id[, v], cid, cos). */
  private def kmeansAfCteSql(keepFinalV: Boolean): String = {
    val k = KmeansK
    def assign(cb: String, out: String, keepV: Boolean) =
      s"""$out AS (
         |  SELECT vec_id${if (keepV) ", v" else ""}, cid, cos FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |           list_cosine_similarity(e.v, c.cv) AS cos,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM e, $cb c) WHERE rn = 1
         |)""".stripMargin
    def recompute(asg: String, out: String) =
      s"""$out AS (
         |  SELECT cid, list(m ORDER BY i) AS cv FROM (
         |    SELECT cid, i, AVG(v[i]) AS m
         |    FROM $asg, (SELECT unnest(generate_series(1, $Dim)) AS i)
         |    GROUP BY cid, i)
         |  GROUP BY cid
         |)""".stripMargin
    val rounds = (1 to KmeansRounds).map { r =>
      assign(s"c${r - 1}", s"a$r", keepV = true) + ",\n" +
        recompute(s"a$r", s"c$r")
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $k),
       |$rounds,
       |${assign(s"c$KmeansRounds", "af", keepV = keepFinalV)}""".stripMargin
  }

  val kmeansClustersSql: String =
    s"""${kmeansAfCteSql(keepFinalV = false)}
       |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       |       ${Exact.mean9Sql("cos")} AS avg_cos
       |FROM af GROUP BY cid ORDER BY cid""".stripMargin

  val semDedupSql: String =
    s"""${kmeansAfCteSql(keepFinalV = true)},
       |d AS (
       |  SELECT a.vec_id, CAST(COUNT(*) AS BIGINT) AS n_earlier_dups,
       |         MIN(b.vec_id) AS dup_of
       |  FROM af a JOIN af b ON a.cid = b.cid AND b.vec_id < a.vec_id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $SemDedupTau
       |  GROUP BY 1
       |)
       |SELECT x.vec_id, x.cid,
       |       COALESCE(d.n_earlier_dups, 0) AS n_earlier_dups,
       |       d.dup_of, d.n_earlier_dups IS NULL AS keep
       |FROM af x LEFT JOIN d ON x.vec_id = d.vec_id
       |ORDER BY x.vec_id""".stripMargin

  /** Cluster-size cap for q257: any cluster larger than this is
    * deterministically sub-sharded before the pairwise pass. Sized so
    * BOTH branches fire under the oracle: sf0.01's k-means sizes run
    * 53–71, so clusters ≤ 64 take the single-shard (uncapped) path
    * and the 66–71 tail shards in two; at sf0.1 every cluster
    * (224–259 members) is capped into 4–5 shards. */
  val SemDedupCap = 64L

  /** q257 — capped SemDeDup with a per-cluster pruning audit: the
    * production guard q132 deliberately omits. q132's within-cluster
    * pairwise pass is quadratic in the HOT cluster — one runaway
    * cluster (the empty-string/boilerplate attractor every real
    * corpus has) turns "bucketed, never all-pairs" back into
    * all-pairs. The guard: clusters larger than [[SemDedupCap]] are
    * split into ceil(n/cap) deterministic sub-shards (md5 of vec_id —
    * engine-portable, no RNG) and pairs are compared only WITHIN a
    * (cluster, shard) cell, so per-cell work is ≤ C(≈cap, 2)
    * regardless of cluster size. Cross-shard duplicate pairs are the
    * deliberately-traded recall (SemDeDup's own K-vs-recall dial,
    * arXiv:2303.09540 §3 — at 100 TB you raise K so E[size] ≈ cap
    * and the shards rarely engage; here they MUST engage so the
    * branch is tested). Output is the q220-style audit the operator
    * watches: per cluster, members / shards / capped flag / pairs
    * actually examined / dups flagged / survivors — all exact
    * integers, so the only float in the query is the rounded cosine
    * inside the threshold (the q122 discipline).
    *
    * Scale shape: assignment is map-only (codebook literals); the
    * size/shard decoration joins an 8-row broadcast back to the scan;
    * the pairwise join is equi on (cid, shard) — a bucketed
    * shuffle whose largest cell is cap-bounded, so the plan survives
    * any cluster-size distribution; audits are one groupBy each. */
  def semDedupCapped(spark: SparkSession, sfDir: String): DataFrame = {
    val cap = SemDedupCap
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val code = kmeansCodebook(e, KmeansK, KmeansRounds)
    val a = e.select(col("vec_id"),
      ivfAssign(code, col("v")).as("cid"), col("v"))
    val sizes = a.groupBy("cid").agg(count(lit(1)).as("n"))
    val ws = a.join(broadcast(sizes), Seq("cid"))
      .withColumn("n_shards", expr(s"(n + ${cap - 1}) div $cap"))
      .withColumn("shard",
        graft.ext.Dedup.hash60(concat_ws("|", col("vec_id"), lit("shard")))
          % col("n_shards"))
    val cells = ws.groupBy(col("cid"), col("shard"))
      .agg(count(lit(1)).as("m"))
    val pairs = cells.groupBy("cid")
      .agg(sum(expr("m * (m - 1) div 2")).as("pairs_examined"))
    val dups = ws.as("x")
      .join(ws.as("y"),
        col("x.cid") === col("y.cid") && col("x.shard") === col("y.shard") &&
          col("y.vec_id") < col("x.vec_id"))
      .filter(round(cosine(col("x.v"), col("y.v")), 6) >= SemDedupTau)
      .select(col("x.cid").as("cid"), col("x.vec_id").as("vec_id"))
      .distinct()
      .groupBy("cid").agg(count(lit(1)).as("n_dups"))
    sizes
      .join(pairs, Seq("cid"), "left")
      .join(dups, Seq("cid"), "left")
      .select(col("cid"), col("n").as("n_members"),
        expr(s"(n + ${cap - 1}) div $cap").as("n_shards"),
        (col("n") > cap).as("capped"),
        coalesce(col("pairs_examined"), lit(0L)).as("pairs_examined"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (col("n") - coalesce(col("n_dups"), lit(0L))).as("n_kept"))
      .orderBy("cid")
  }

  val semDedupCappedSql: String = {
    val cap = SemDedupCap
    s"""${kmeansAfCteSql(keepFinalV = true)},
       |sz AS (SELECT cid, COUNT(*) AS n FROM af GROUP BY 1),
       |ws AS MATERIALIZED (
       |  SELECT af.vec_id, af.cid, af.v,
       |         (sz.n + ${cap - 1}) // $cap AS n_shards,
       |         ${Dedup.hash60Sql("af.vec_id::VARCHAR||'|shard'")}
       |           % ((sz.n + ${cap - 1}) // $cap) AS shard
       |  FROM af JOIN sz USING (cid)
       |), cells AS (
       |  SELECT cid, shard, COUNT(*) AS m FROM ws GROUP BY 1, 2
       |), pairs AS (
       |  SELECT cid, CAST(SUM(m * (m - 1) // 2) AS BIGINT)
       |           AS pairs_examined
       |  FROM cells GROUP BY 1
       |), d AS (
       |  SELECT a.cid, a.vec_id
       |  FROM ws a JOIN ws b ON a.cid = b.cid AND a.shard = b.shard
       |                     AND b.vec_id < a.vec_id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $SemDedupTau
       |  GROUP BY 1, 2
       |), dc AS (
       |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_dups FROM d GROUP BY 1
       |)
       |SELECT sz.cid, sz.n AS n_members,
       |       (sz.n + ${cap - 1}) // $cap AS n_shards,
       |       sz.n > $cap AS capped,
       |       COALESCE(p.pairs_examined, 0) AS pairs_examined,
       |       COALESCE(dc.n_dups, 0) AS n_dups,
       |       sz.n - COALESCE(dc.n_dups, 0) AS n_kept
       |FROM sz LEFT JOIN pairs p USING (cid) LEFT JOIN dc USING (cid)
       |ORDER BY cid""".stripMargin
  }

  /** Cap values swept by q258 — brackets [[SemDedupCap]] so the audit
    * prices both a tighter and a looser guard than the one q257
    * ships. */
  val SemDedupCapSweep = Seq(32L, 64L, 128L)

  /** q258 — capped-SemDeDup RECALL audit: q257 trades cross-shard
    * duplicate pairs for cap-bounded work, and this query MEASURES
    * that trade instead of asserting it (the q81/q246/q253
    * "measure, don't guess" discipline). Ground truth is q132's full
    * within-cluster dup set; for each cap in [[SemDedupCapSweep]] and
    * each cluster it reports how many of those dups a capped pass
    * would still flag, the miss count, and recall in integer ppm
    * (floor division — no float fold anywhere; the only float is the
    * rounded cosine inside the threshold, as in q132/q257).
    *
    * The sweep costs ONE pairwise pass, not three: the full
    * within-cluster qualifying-pair list is computed once (exactly
    * q132's join), each endpoint's 60-bit shard hash is
    * cap-independent, and the cap sweep is a literal explode over
    * that already-small pair list (the q209/q218 no-join shape) —
    * shard membership per cap is pure modulus arithmetic. A pair
    * survives cap c iff both endpoints hash into the same
    * ceil(n/c)-shard, which is precisely q257's pair predicate, so
    * the cap=64 column reconciles row-for-row with q257's n_dups
    * (pinned in RoundNineOpsSpec).
    *
    * Scale shape: the ground-truth join is within-cluster pairwise —
    * the audit is priced like q132, NOT like q257; at 100 TB you run
    * it on a fixture-sized holdout the way q253 samples q246's exact
    * audit. Everything after the pair list is broadcast-sized
    * (8 clusters × 3 caps). */
  def semDedupCapRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val code = kmeansCodebook(e, KmeansK, KmeansRounds)
    val a = e.select(col("vec_id"),
      ivfAssign(code, col("v")).as("cid"), col("v"))
    val sizes = a.groupBy("cid").agg(count(lit(1)).as("n"))
    val shardHash = (c: Column) =>
      graft.ext.Dedup.hash60(concat_ws("|", c, lit("shard")))
    // ONE full pairwise pass — q132's ground-truth qualifying pairs
    val qp = a.as("x")
      .join(a.as("y"),
        col("x.cid") === col("y.cid") && col("y.vec_id") < col("x.vec_id"))
      .filter(round(cosine(col("x.v"), col("y.v")), 6) >= SemDedupTau)
      .select(col("x.cid").as("cid"), col("x.vec_id").as("va"),
        col("y.vec_id").as("vb"))
    val swept = qp
      .join(broadcast(sizes), Seq("cid"))
      .withColumn("ha", shardHash(col("va")))
      .withColumn("hb", shardHash(col("vb")))
      .withColumn("cap", explode(typedlit(SemDedupCapSweep)))
      .withColumn("ns", expr("(n + cap - 1) div cap"))
      .withColumn("same_shard",
        (col("ha") % col("ns")) === (col("hb") % col("ns")))
      .groupBy("cap", "cid")
      .agg(countDistinct(col("va")).as("dups_full"),
        countDistinct(when(col("same_shard"), col("va"))).as("dups_capped"))
    sizes
      .withColumn("cap", explode(typedlit(SemDedupCapSweep)))
      .join(swept, Seq("cap", "cid"), "left")
      .select(col("cap"), col("cid"), col("n").as("n_members"),
        (col("n") > col("cap")).as("capped"),
        coalesce(col("dups_full"), lit(0L)).as("dups_full"),
        coalesce(col("dups_capped"), lit(0L)).as("dups_capped"),
        (coalesce(col("dups_full"), lit(0L)) -
          coalesce(col("dups_capped"), lit(0L))).as("missed"),
        when(coalesce(col("dups_full"), lit(0L)) > 0,
          expr("dups_capped * 1000000 div dups_full")).as("recall_ppm"))
      .orderBy("cap", "cid")
  }

  val semDedupCapRecallSql: String = {
    val h = Dedup.hash60Sql
    val caps = SemDedupCapSweep.mkString("[", ",", "]")
    s"""${kmeansAfCteSql(keepFinalV = true)},
       |sz AS (SELECT cid, COUNT(*) AS n FROM af GROUP BY 1),
       |qp AS MATERIALIZED (
       |  SELECT a.cid, a.vec_id AS va, b.vec_id AS vb
       |  FROM af a JOIN af b ON a.cid = b.cid AND b.vec_id < a.vec_id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $SemDedupTau
       |), caps AS (SELECT CAST(unnest($caps) AS BIGINT) AS cap),
       |pe AS MATERIALIZED (
       |  SELECT c.cap, q.cid, q.va,
       |         ${h("q.va::VARCHAR||'|shard'")}
       |           % ((sz.n + c.cap - 1) // c.cap)
       |         = ${h("q.vb::VARCHAR||'|shard'")}
       |           % ((sz.n + c.cap - 1) // c.cap) AS same_shard
       |  FROM qp q JOIN sz USING (cid) CROSS JOIN caps c
       |), ag AS (
       |  SELECT cap, cid, COUNT(DISTINCT va) AS dups_full,
       |         COUNT(DISTINCT CASE WHEN same_shard THEN va END)
       |           AS dups_capped
       |  FROM pe GROUP BY 1, 2
       |)
       |SELECT c.cap, sz.cid, sz.n AS n_members, sz.n > c.cap AS capped,
       |       COALESCE(ag.dups_full, 0) AS dups_full,
       |       COALESCE(ag.dups_capped, 0) AS dups_capped,
       |       COALESCE(ag.dups_full, 0) - COALESCE(ag.dups_capped, 0)
       |         AS missed,
       |       CASE WHEN COALESCE(ag.dups_full, 0) > 0
       |            THEN ag.dups_capped * 1000000 // ag.dups_full END
       |         AS recall_ppm
       |FROM sz CROSS JOIN caps c
       |LEFT JOIN ag ON ag.cap = c.cap AND ag.cid = sz.cid
       |ORDER BY c.cap, sz.cid""".stripMargin
  }

  /** z-score threshold for q122 — flag a vector when its cohesion with
    * its own label's centroid sits ≥ 2σ below the label mean. */
  val OutlierZ = 2.0

  /** q122 — per-label centroid outlier detection: build each label's
    * mean vector, score every vector by cosine to ITS OWN label
    * centroid, and flag rows whose cohesion z-score sits below
    * −[[OutlierZ]] — the geometric mislabel detector complementing
    * q57's kNN label agreement (q57 votes with neighbors; this
    * measures the vector's pull toward its class center; rows flagged
    * by both are the curator's first queue).
    *
    * Scale shape: the centroid build is one posexplode + (label, dim)
    * agg — |labels|·Dim cells, never corpus-sized — broadcast back;
    * scoring is a map-only cosine per row; the z-statistics are one
    * more |labels|-row agg. Float policy: μ/σ come from power sums
    * (round-6 edge absorbs order skew), z is ROUNDED FIRST and the
    * flag derives from the rounded value, so the boolean can only
    * disagree across engines where the rounded z itself would. */
  def embeddingOutliers(spark: SparkSession, sfDir: String): DataFrame =
    embeddingOutliersOn(Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame (spec plants outliers). */
  def embeddingOutliersOn(embs: DataFrame): DataFrame = {
    val e = embs
      .select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
    // exact folds throughout (q196 doctrine): integer-grid centroid
    // sums and nano-grid moment sums — the float AVG/SUM chain was
    // doubly order-sensitive and z lands on the round(6) grid
    val cent = e
      .select(col("label"),
        posexplode(transform(col("v"),
          x => round(x * CovScale, 0).cast("long"))).as(Seq("i", "qx")))
      .groupBy("label", "i")
      .agg(sum("qx").as("sq"), count(lit(1)).as("cn"))
      .select(col("label"), col("i"),
        (col("sq").cast("double") / col("cn").cast("double") /
          lit(CovScale)).as("m"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("ms"))
      .select(col("label"), transform(col("ms"), s => s("m")).as("c"))
    val scored = e.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        cosine(col("v"), col("c")).as("cos"))
    val stats = scored.groupBy("label")
      .agg(count(lit(1)).cast("double").as("n"),
        (Exact.sum9(col("cos")).cast("double") / 1e9).as("s1"),
        (Exact.sum9(col("cos") * col("cos")).cast("double") / 1e9).as("s2"))
    val mu = col("s1") / col("n")
    val z = (col("cos") - mu) / sqrt(col("s2") / col("n") - mu * mu)
    scored.join(broadcast(stats), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(col("cos"), 6).as("cos_centroid"), round(z, 6).as("z"))
      .withColumn("outlier", col("z") <= -OutlierZ)
      .orderBy("vec_id")
  }

  val embeddingOutliersSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
       |), cent AS (
       |  SELECT label, list(m ORDER BY i) AS c FROM (
       |    SELECT label, i,
       |           CAST(SUM(CAST(round(v[i] * $CovScale) AS BIGINT))
       |                AS DOUBLE)
       |           / CAST(COUNT(*) AS DOUBLE) / $CovScale AS m
       |    FROM e, (SELECT unnest(generate_series(1, $Dim)) AS i)
       |    GROUP BY 1, 2)
       |  GROUP BY label
       |), scored AS (
       |  SELECT e.vec_id, e.label,
       |         list_cosine_similarity(e.v, cent.c) AS cos
       |  FROM e JOIN cent USING (label)
       |), stats AS (
       |  SELECT label, COUNT(*)::DOUBLE AS n,
       |         CAST(${Exact.sum9Sql("cos")} AS DOUBLE) / 1e9 AS s1,
       |         CAST(${Exact.sum9Sql("cos * cos")} AS DOUBLE) / 1e9 AS s2
       |  FROM scored GROUP BY 1
       |)
       |SELECT vec_id, label,
       |       round(cos, 6) AS cos_centroid,
       |       round((cos - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6)
       |         AS z,
       |       round((cos - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6)
       |         <= -$OutlierZ AS outlier
       |FROM scored JOIN stats USING (label)
       |ORDER BY vec_id""".stripMargin

  /** Matryoshka prefix length: retrieve with the first 16 of 64 dims. */
  val MrlDim = 16

  /** q141 — Matryoshka retrieval eval (Kusupati et al. 2022): run the
    * q13 top-k with only the FIRST MrlDim dimensions of each vector
    * and score recall@k against the full-dimension exact answer — the
    * question a 100 TB ANN deployment asks before shipping truncated
    * embeddings (4× less memory/bandwidth per vector if recall
    * holds). Also reports how far the truncated scores sit from the
    * full-dim ones over the hit set (mean |Δcos|).
    *
    * Scale shape: identical to q13/q81 — queries broadcast, one
    * candidate scan (now over sliced arrays, so the kernel reads 16
    * doubles not 64), per-query WindowGroupLimit top-k, then an
    * 8×10-row join. The slice happens BEFORE the cosine kernel; at
    * 100 TB the truncated copy is what you'd materialize. */
  def mrlRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        slice(col("v"), 1, MrlDim).as("vt"))
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("vt").as("qvt"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qvt"), col("vt")).as("cos_t"),
        cosine(col("qv"), col("v")).as("cos_f"))
    val approx = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_t").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("neighbor_id"),
        col("cos_t"), col("cos_f"))
    val exact = bruteForceTopK(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("cos_t").isNotNull, 1L).otherwise(0L)).as("n_hits"),
        // exact nano-sum (q196 doctrine): AVG over float gaps was an
        // unordered fold feeding the round(6) grid
        Exact.sum9(abs(col("cos_f") - col("cos_t"))).as("gap9"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / col("k").cast("double")).as("recall"),
        round(coalesce(col("gap9").cast("double") /
          col("n_hits").cast("double") / 1e9, lit(0.0)), 6)
          .as("mean_cos_gap"))
      .orderBy("query_id")
  }

  val mrlRecallSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         (embedding::DOUBLE[])[1:$MrlDim] AS vt
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_cosine_similarity(q.vt, c.vt) AS cos_t,
       |         list_cosine_similarity(q.v, c.v) AS cos_f
       |  FROM e q JOIN e c ON c.vec_id != q.vec_id
       |  WHERE q.vec_id < $NQueries
       |), approx AS (
       |  SELECT query_id, neighbor_id, cos_t, cos_f
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos_t DESC, neighbor_id) AS rk FROM scored)
       |  WHERE rk <= $TopK
       |), exact_k AS ($bruteForceTopKSql)
       |SELECT x.query_id,
       |       CAST(SUM(CASE WHEN a.cos_t IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_hits,
       |       SUM(CASE WHEN a.cos_t IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |         / COUNT(*) AS recall,
       |       round(COALESCE(
       |         CAST(${Exact.sum9Sql("abs(a.cos_f - a.cos_t)")} AS DOUBLE)
       |         / SUM(CASE WHEN a.cos_t IS NOT NULL THEN 1
       |               ELSE 0 END)::DOUBLE / 1e9, 0.0), 6)
       |         AS mean_cos_gap
       |FROM exact_k x
       |LEFT JOIN approx a
       |  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin

  /** q147 — int8 quantization distortion: symmetric per-vector int8
    * quantization (scale = max|x|/127, the standard ANN-index
    * compression) and the cosine distortion 1 − cos(v, dequant(v)) it
    * introduces, reported per label — the measurement that decides
    * whether an index can ship 8-bit vectors (4× smaller again than
    * q141's dimension truncation; the two compose).
    *
    * Determinism: scale/quantize/dequantize are per-row array lambdas
    * (identical IEEE ops on both engines; round(x/scale) never sits
    * on a .5 for continuous doubles), the per-vector distortion
    * rounds to integer nano-units BEFORE the cross-row mean (the q142
    * discipline), and max picks an identical value. Scale shape: ONE
    * scan, all math inside the row, one |labels|-sized agg — at
    * 100 TB this is the map-only job you'd run to materialize the
    * int8 copy, with the report as a free side aggregate. */
  def int8Distortion(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("scale",
        aggregate(transform(col("v"), x => abs(x)), lit(0.0),
          (a, e) => greatest(a, e)) / lit(127.0))
    val dq = transform(col("v"),
      x => round(x / col("scale"), 0) * col("scale"))
    val scored = emb.withColumn("dist",
      when(col("scale") > 0.0, lit(1.0) - cosine(col("v"), dq))
        .otherwise(lit(0.0)))
    scored.groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(round(col("dist") * 1e9, 0).cast("long"))
          .cast("double") / count(lit(1)).cast("double") / 1e9, 6)
          .as("mean_distortion"),
        round(max("dist"), 6).as("max_distortion"))
      .orderBy("label")
  }

  val int8DistortionSql: String =
    """WITH e AS (
      |  SELECT label, embedding::DOUBLE[] AS v,
      |         list_max(list_transform(embedding::DOUBLE[],
      |           x -> abs(x))) / 127.0 AS s
      |  FROM embeddings
      |), scored AS (
      |  SELECT label,
      |         CASE WHEN s > 0.0
      |              THEN 1.0 - list_cosine_similarity(v,
      |                list_transform(v, x -> round(x / s) * s))
      |              ELSE 0.0 END AS dist
      |  FROM e
      |)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |       round(SUM(round(dist * 1e9)::BIGINT)::DOUBLE
      |             / COUNT(*)::DOUBLE / 1e9, 6) AS mean_distortion,
      |       round(MAX(dist), 6) AS max_distortion
      |FROM scored GROUP BY label ORDER BY label""".stripMargin

  /** q153 — label-centroid confusion structure: the cosine similarity
    * between every pair of class centroids — the embedding-space
    * confusion matrix that predicts which labels a classifier (or an
    * ANN route) will mix up, and the first thing to read when q57's
    * kNN agreement drops. Flags pairs above the q132 SemDeDup
    * threshold as merge candidates.
    *
    * Scale shape: centroids are one (label, dim)-keyed mean (q122's
    * shape, map-side partial sums over the corpus scan); everything
    * after operates on |labels| rows — the pair grid is |labels|²/2
    * over a broadcast — so the corpus is read exactly once no matter
    * how many label pairs exist. */
  def centroidMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("label"), asDouble(col("embedding")).as("v"))
    // centroids from exact integer sums on the CovScale grid — the
    // same hardening as q196 (round-11): AVG over members is an
    // unordered float fold, and a centroid_cos on the round(6)
    // half-boundary would flip with the engines' thread schedules
    val cent = e
      .select(col("label"),
        posexplode(transform(col("v"),
          x => round(x * CovScale, 0).cast("long"))).as(Seq("i", "qx")))
      .groupBy("label", "i")
      .agg(sum("qx").as("sq"), count(lit(1)).as("n"))
      .select(col("label"), col("i"),
        (col("sq").cast("double") / col("n").cast("double") /
          lit(CovScale)).as("m"), col("n"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("ms"),
        max("n").as("n_vectors"))
      .select(col("label"), transform(col("ms"), s => s("m")).as("c"),
        col("n_vectors"))
    cent.as("a")
      .join(broadcast(cent.as("b")), col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        col("a.n_vectors").as("n_a"), col("b.n_vectors").as("n_b"),
        round(cosine(col("a.c"), col("b.c")), 6).as("centroid_cos"))
      .withColumn("merge_candidate", col("centroid_cos") >= SemDedupTau)
      .orderBy("label_a", "label_b")
  }

  val centroidMatrixSql: String =
    s"""WITH e AS (
       |  SELECT label, embedding::DOUBLE[] AS v FROM embeddings
       |), cent AS (
       |  SELECT label, list(m ORDER BY i) AS c, MAX(n) AS n_vectors
       |  FROM (
       |    SELECT label, i,
       |           CAST(SUM(CAST(round(v[i] * $CovScale) AS BIGINT))
       |                AS DOUBLE)
       |           / CAST(COUNT(*) AS DOUBLE) / $CovScale AS m,
       |           COUNT(*) AS n
       |    FROM e, (SELECT unnest(generate_series(1, $Dim)) AS i)
       |    GROUP BY 1, 2)
       |  GROUP BY label
       |)
       |SELECT a.label AS label_a, b.label AS label_b,
       |       CAST(a.n_vectors AS BIGINT) AS n_a,
       |       CAST(b.n_vectors AS BIGINT) AS n_b,
       |       round(list_cosine_similarity(a.c, b.c), 6) AS centroid_cos,
       |       round(list_cosine_similarity(a.c, b.c), 6) >= $SemDedupTau
       |         AS merge_candidate
       |FROM cent a JOIN cent b ON a.label < b.label
       |ORDER BY label_a, label_b""".stripMargin

  /** Ordered-fold squared euclidean distance — index-order accumulation
    * so DuckDB's list_distance (same order) produces the identical IEEE
    * sequence before the round-6 edge. */
  /** Native single-pass kernel (bit-equal ascending fold — see
    * [[graft.functions.SqL2Distance]]); the HOF form interpreted two
    * lambdas per element on the PQ encode hot path. */
  private[ext] def sqDist(a: Column, b: Column): Column =
    graft.functions.SqL2Distance.sq_l2_dist(a, b)

  /** q196 — simplified (centroid) silhouette per label: a = distance to
    * the label's own centroid, b = distance to the nearest OTHER
    * centroid, s = (b − a) / max(a, b). Reported per label: n, mean s,
    * and the share of negative-s vectors (rows geometrically closer to a
    * foreign class — the label-noise signal a curation pass ranks by).
    *
    * Float discipline (hardened round 11): the original float-mean
    * centroid (AVG over members) was an UNORDERED fold, and at sf0.1
    * label 8's mean silhouette sits exactly on the round(6)
    * half-boundary (−0.0083835) — the ORACLE itself flipped the 6th
    * decimal run-to-run with DuckDB's thread schedule (flake artifact,
    * round-11 open gate; almost certainly the round-10 mid-close
    * 270/271 one-off). Both order-sensitive folds are now exact:
    * centroids derive from integer sums on the [[CovScale]] grid (the
    * q210/q264 co-moment discipline — centroid of the quantized
    * corpus), and the mean aggregates round(s·1e6) as integers (the
    * q266 nanoMean discipline). Per-row a/b/s are in-order folds over
    * identical doubles; every cross-row fold is an integer.
    *
    * Scale shape: centroids are the |labels|·Dim posexplode aggregate
    * (as q122), broadcast back twice — own-centroid lookup is an equi
    * join, nearest-other is a |labels|−1-per-row broadcast grid
    * (constant-bounded, the q153 shape) reduced by min before anything
    * shuffles. One corpus pass, two small apex aggs.
    */
  def silhouette(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val cent = e
      .select(col("label"),
        posexplode(transform(col("v"),
          x => round(x * CovScale, 0).cast("long"))).as(Seq("i", "qx")))
      .groupBy("label", "i")
      .agg(sum("qx").as("sq"), count(lit(1)).as("cn"))
      .select(col("label"), col("i"),
        (col("sq").cast("double") / col("cn").cast("double") /
          lit(CovScale)).as("m"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("ms"))
      .select(col("label"), transform(col("ms"), s => s("m")).as("c"))
    val own = e.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"), col("v"),
        sqrt(sqDist(col("v"), col("c"))).as("a"))
    val other = own.join(
        broadcast(cent.select(col("label").as("olabel"), col("c"))),
        col("label") =!= col("olabel"))
      .groupBy("vec_id", "label", "a")
      .agg(min(sqrt(sqDist(col("v"), col("c")))).as("b"))
    other
      .select(col("label"),
        round((col("b") - col("a")) / greatest(col("a"), col("b")), 6).as("s"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("s") * 1e6, 0).cast("long")).cast("double") /
          count(lit(1)).cast("double") / 1e6, 6).as("mean_silhouette"),
        round(sum(when(col("s") < 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("neg_share"))
      .orderBy("label")
  }

  val silhouetteSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
       |), cent AS (
       |  SELECT label, list(m ORDER BY i) AS c FROM (
       |    SELECT label, i,
       |           CAST(SUM(CAST(round(v[i] * $CovScale) AS BIGINT))
       |                AS DOUBLE)
       |           / CAST(COUNT(*) AS DOUBLE) / $CovScale AS m
       |    FROM e, (SELECT unnest(generate_series(1, $Dim)) AS i)
       |    GROUP BY 1, 2)
       |  GROUP BY label
       |), own AS (
       |  SELECT e.vec_id, e.label, e.v, list_distance(e.v, cent.c) AS a
       |  FROM e JOIN cent USING (label)
       |), other AS (
       |  SELECT o.vec_id, o.label, o.a,
       |         MIN(list_distance(o.v, c.c)) AS b
       |  FROM own o JOIN cent c ON c.label != o.label
       |  GROUP BY 1, 2, 3
       |), s AS (
       |  SELECT label, round((b - a) / greatest(a, b), 6) AS s
       |  FROM other
       |)
       |SELECT label, COUNT(*) AS n,
       |       round(CAST(SUM(CAST(round(s * 1e6) AS BIGINT)) AS DOUBLE)
       |             / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) AS mean_silhouette,
       |       round(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END)::DOUBLE
       |             / COUNT(*)::DOUBLE, 6) AS neg_share
       |FROM s GROUP BY 1 ORDER BY label""".stripMargin

  /** q198 — hard-negative mining for contrastive training: for each of
    * the NQueries anchor vectors, the TopK highest-cosine vectors whose
    * label DIFFERS from the anchor's — the "looks similar, is not"
    * rows a contrastive fine-tune pairs against each anchor. Same
    * broadcast-anchors + one-candidate-scan shape as q13, with the
    * label-mismatch predicate applied before ranking, plus a margin
    * column (anchor's best same-label cosine − this negative's cosine):
    * negatives with small or negative margin are the valuable ones.
    *
    * Scale shape: anchors are an NQueries-bounded broadcast; one pass
    * over the corpus scores both the negative candidates and the
    * same-label positives (a CASE split inside the same aggregate
    * pipeline, not two scans); per-anchor top-k is a WindowGroupLimit.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("vec_id").as("neighbor_id"),
        col("label"), cosine(col("qv"), col("v")).as("cos"))
    val bestPos = scored.filter(col("label") === col("qlabel"))
      .groupBy("query_id").agg(max(col("cos")).as("best_pos"))
    scored.filter(col("label") =!= col("qlabel"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= TopK)
      .join(broadcast(bestPos), Seq("query_id"))
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        col("label").as("neg_label"), round(col("cos"), 6).as("cosine"),
        round(col("best_pos") - col("cos"), 6).as("margin"))
      .orderBy("query_id", "rk")
  }

  val hardNegativesSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, q.label AS qlabel,
       |         c.vec_id AS neighbor_id, c.label,
       |         list_cosine_similarity(q.v, c.v) AS cos
       |  FROM e q JOIN e c ON c.vec_id != q.vec_id
       |  WHERE q.vec_id < $NQueries
       |), best_pos AS (
       |  SELECT query_id, MAX(cos) AS best_pos
       |  FROM scored WHERE label = qlabel GROUP BY 1
       |), ranked AS (
       |  SELECT query_id, neighbor_id, label, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored WHERE label != qlabel
       |)
       |SELECT r.query_id, r.rk, r.neighbor_id, r.label AS neg_label,
       |       round(r.cos, 6) AS cosine,
       |       round(b.best_pos - r.cos, 6) AS margin
       |FROM ranked r JOIN best_pos b USING (query_id)
       |WHERE r.rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  // CovScale moved to the head of the object (round 11): SQL-twin
  // vals at any position interpolate it, and a forward reference in
  // an eager val captures the default-initialized 0.0 (the q196/q153
  // lazy-val incident).

  /** q210 — embedding covariance matrix (upper triangle), the
    * whitening/drift statistic a feature pipeline derives before PCA:
    * per dimension pair (i ≤ j), the exact integer co-moment of the
    * 1024-quantized components plus the double covariance derived from
    * it with one shared IEEE op sequence.
    *
    * Scale shape: ONE pass through the [[graft.functions.GramMatrix]]
    * typed aggregator — each partition folds its vectors into a single
    * packed buffer (2080 triangle cells + 64 sums + count, all exact
    * longs), partials merge element-wise, and only ~2 KB per partition
    * ever crosses the wire. The previous formulation exploded the
    * 2080-struct triangle PER VECTOR through an (i, j)-keyed shuffle —
    * N × D²/2 shuffle rows vs. this one's constant; A/B at sf0.1 in
    * PLANS.md round 7. The (k → i, j) index map is a 2080-row local
    * table broadcast onto the unpacked result. */
  def embeddingCovariance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tri = Dim * (Dim + 1) / 2
    val q = Tables.load(spark, sfDir, "embeddings")
      .select(transform(col("embedding"),
        e => round(e.cast("double") * CovScale).cast("long")).as("qv"))
    val packed = q.as[Seq[Long]]
      .select(new graft.functions.GramMatrix(Dim).toColumn)
      .toDF("g")
      .select(slice(col("g"), 1, tri).as("prods"),
        slice(col("g"), tri + 1, Dim).as("sx"),
        element_at(col("g"), tri + Dim + 1).as("n"))
      .filter(col("n") > 0)
    // k enumerates (i, j >= i) in the same ascending order the kernel
    // packs, so the index map is positional
    val idx = (for { i <- 0 until Dim; j <- i until Dim }
      yield (i.toLong, j.toLong)).zipWithIndex
      .map { case ((i, j), k) => (k, i, j) }.toDF("k", "i", "j")
    packed
      .select(col("sx"), col("n"), posexplode(col("prods")).as(Seq("k", "sxy")))
      .join(broadcast(idx), Seq("k"))
      .select(col("i"), col("j"), col("sxy"),
        ((col("sxy").cast("double") -
          element_at(col("sx"), (col("i") + 1).cast("int")).cast("double") *
            element_at(col("sx"), (col("j") + 1).cast("int")).cast("double") /
            col("n"))
          / col("n")).as("cov"))
      .orderBy("i", "j")
  }

  /** ONE shared builder for every oracle that needs the exact-
    * co-moment covariance cells (q210/q259/q262/q263) — the hand-kept-
    * copies rule (see [[graft.ext.Dedup.hash60Sql]]) applied to the
    * far bigger drift surface: the per-cell IEEE expression. Ends at
    * `cell` (i, j ≥ i, sxy, c) and `full_cells` (both triangles),
    * optionally threaded by `label`. Both carry MATERIALIZED barriers:
    * each is referenced 2-3 times downstream and DuckDB's CTE inlining
    * would otherwise replicate the pos self-join per reference. */
  /** The per-cell IEEE covariance expression — the ONE SQL home of the
    * arithmetic [[gramToCov]] runs on the driver: cov(i,j) =
    * (sxy − sxi·sxj/n)/n with exactly this cast/op order. Every twin
    * that assembles covariance cells (the [[covCellsCteSql]] family
    * AND the q265 cumulative-drift twin, which threads a batch key the
    * shared CTE can't) interpolates this snippet — a hand-kept second
    * copy is how the engines drift. */
  private def covCellExprSql(sxy: String, sxi: String, sxj: String,
      n: String): String =
    s"""(CAST($sxy AS DOUBLE)
       |          - CAST($sxi AS DOUBLE) * CAST($sxj AS DOUBLE) / $n)
       |           / $n""".stripMargin

  private def covCellsCteSql(labeled: Boolean): String = {
    val l = if (labeled) "label, " else ""
    val pl = if (labeled) "p.label, " else ""
    val al = if (labeled) "a.label, " else ""
    val lj = (t: String) => if (labeled) s"p.label = $t.label AND " else ""
    // labeled path drops NULL labels explicitly: the Scala side's
    // non-nullable Long encoder would THROW on one while GROUP BY
    // label silently keeps a NULL group — the symmetric filter (and
    // its .filter(isNotNull) twin in labelRankOn) keeps the engines
    // equal if the fixture ever gains NULL labels (advisor, round 9)
    val nn = if (labeled) "WHERE label IS NOT NULL" else ""
    s"""q AS (
       |  SELECT vec_id, $l
       |         [CAST(round(CAST(e AS DOUBLE) * $CovScale) AS BIGINT)
       |          for e in embedding] AS qv
       |  FROM embeddings $nn
       |), pos AS (
       |  SELECT vec_id, $l t.i - 1 AS d, qv[t.i] AS x
       |  FROM q, (SELECT unnest(generate_series(1, $Dim)) AS i) t
       |), prod AS (
       |  SELECT $al a.d AS i, b.d AS j,
       |         CAST(SUM(a.x * b.x) AS BIGINT) AS sxy, COUNT(*) AS n
       |  FROM pos a JOIN pos b ON a.vec_id = b.vec_id AND a.d <= b.d
       |  GROUP BY ${if (labeled) "1, 2, 3" else "1, 2"}
       |), m AS (
       |  SELECT $l d, CAST(SUM(x) AS BIGINT) AS sx
       |  FROM pos GROUP BY ${if (labeled) "1, 2" else "1"}
       |), cell AS MATERIALIZED (
       |  SELECT $pl p.i, p.j, p.sxy,
       |         ${covCellExprSql("p.sxy", "ma.sx", "mb.sx", "p.n")} AS c
       |  FROM prod p
       |  JOIN m ma ON ${lj("ma")}p.i = ma.d
       |  JOIN m mb ON ${lj("mb")}p.j = mb.d
       |), full_cells AS MATERIALIZED (
       |  SELECT $l i, j, c FROM cell
       |  UNION ALL
       |  SELECT $l j AS i, i AS j, c FROM cell WHERE i < j
       |)""".stripMargin
  }

  val embeddingCovarianceSql: String =
    s"""WITH ${covCellsCteSql(labeled = false)}
       |SELECT i, j, sxy, c AS cov
       |FROM cell
       |ORDER BY i, j""".stripMargin

  /** Fixed power-iteration count for q259 — unrolled identically in
    * the DuckDB twin (the kmeans/pagerank fixed-rounds discipline):
    * the output is DEFINED as the K-step iterate, so convergence is a
    * quality property (spec'd), never a correctness dependency. */
  val PowerIters = 8

  /** q259 — covariance spectrum: the dominant principal component of
    * the embedding covariance, the whitening/PCA step a feature
    * pipeline derives right after q210's covariance (and the spectral
    * drift statistic: a collapsing embedding space shows up as one
    * component's explained-variance share creeping toward 1 long
    * before downstream retrieval degrades). Per dimension: the
    * component loading, the dominant eigenvalue (in quantized units —
    * direction and SHARE are scale-free, so the 1024² factor cancels
    * everywhere a consumer cares), and the explained-variance share
    * λ/trace.
    *
    * Method: [[PowerIters]] fixed power-iteration steps from the
    * uniform start 1/√D = 0.125 (exact in binary), on the covariance
    * assembled from the SAME exact integer co-moments as q210 — both
    * engines build cell (i,j) from identical integers with one shared
    * IEEE expression, then run the identical iteration (ascending-j
    * matvec folds, ascending-i norm fold, one sqrt, one divide), so
    * the only cross-engine float question is the fold order already
    * proven by the cosine-kernel twins; round(6) at the output edge.
    *
    * Scale shape: ONE GramMatrix pass over the corpus (the q210
    * constant-shuffle shape) collects D(D+1)/2 + D + 1 exact longs —
    * ~2 KB to the driver, the bounded-collect codebook precedent —
    * and the O(K·D²) eigensolve (~33k flops) never touches the
    * corpus. At 100 TB the plan is byte-identical: the corpus cost IS
    * q210's fold, everything after is driver arithmetic. */
  /** ONE GramMatrix pass → the quantized covariance as a dense D×D
    * double matrix (both triangles) — the driver-side input to the
    * spectral queries. Each cell is derived from exact integer
    * co-moments with the single shared IEEE expression the q210
    * oracle also uses, so both engines hold bit-identical matrices. */
  private def quantizedCovariance(spark: SparkSession,
      sfDir: String): Array[Array[Double]] =
    gramToCov(quantizedGramOf(spark,
      Tables.load(spark, sfDir, "embeddings")))._1

  /** ONE GramMatrix fold over an embeddings frame → the packed exact-
    * integer buffer (~2 KB regardless of corpus size) — the corpus-
    * side cost of every spectral query, and the per-micro-batch step
    * of the streaming drift monitor. */
  private[graft] def quantizedGramOf(spark: SparkSession,
      embs: DataFrame): Seq[Long] = {
    import spark.implicits._
    embs
      .select(transform(col("embedding"),
        e => round(e.cast("double") * CovScale).cast("long")).as("qv"))
      .as[Seq[Long]]
      .select(new graft.functions.GramMatrix(Dim).toColumn)
      .head()
  }

  /** Packed Gram buffer → (dense covariance, vector count): the ONE
    * Scala home of the per-cell expression (the twins interpolate the
    * matching SQL from [[covCellsCteSql]] / [[covCellExprSql]]) —
    * hand-kept copies of this arithmetic are how one engine drifts
    * from the other. `dim` defaults to the corpus [[Dim]]; specs pass
    * smaller dims to run the same kernel over planted spectra. */
  private[graft] def gramToCov(g: Seq[Long],
      dim: Int = Dim): (Array[Array[Double]], Long) = {
    val tri = dim * (dim + 1) / 2
    val n = g(tri + dim)
    require(n > 0, "empty embeddings group")
    val sx = (0 until dim).map(i => g(tri + i))
    val a = Array.ofDim[Double](dim, dim)
    var k = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = (g(k).toDouble -
          sx(i).toDouble * sx(j).toDouble / n.toDouble) / n.toDouble
        a(i)(j) = c; a(j)(i) = c; k += 1; j += 1
      }
      i += 1
    }
    (a, n)
  }

  /** Frobenius norm squared over the FULL matrix, ascending (i, j) —
    * the fold order the twins' `list(c*c ORDER BY i, j)` replicates. */
  private[graft] def fro2Of(a: Array[Array[Double]]): Double = {
    var fro2 = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) { fro2 += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    fro2
  }

  /** [[PowerIters]] power-iteration steps on `a` from the uniform
    * exact start — returns (final unit iterate, λ estimate = the last
    * normalization constant). Ascending-j matvec folds, ascending-i
    * norm fold: the op sequence the DuckDB twins replicate. */
  private def powerIterate(a: Array[Array[Double]]): (Array[Double], Double) = {
    val dim = a.length
    // 0.125 = 1/√Dim exactly in binary for the corpus D=64; for other
    // dims (spec-planted spectra) any nonzero constant start works —
    // the per-step normalization absorbs the scale
    var x = Array.fill(dim)(0.125)
    var lambda = 0.0
    var it = 0
    while (it < PowerIters) {
      val y = Array.tabulate(dim) { r =>
        var s = 0.0; var j = 0
        while (j < dim) { s += a(r)(j) * x(j); j += 1 }
        s
      }
      var s2 = 0.0
      var r = 0
      while (r < dim) { s2 += y(r) * y(r); r += 1 }
      lambda = math.sqrt(s2)
      x = y.map(_ / lambda)
      it += 1
    }
    (x, lambda)
  }

  private[graft] def covTrace(a: Array[Array[Double]]): Double = {
    var trace = 0.0
    var i = 0
    while (i < a.length) { trace += a(i)(i); i += 1 }
    trace
  }

  def covarianceSpectrum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val a = quantizedCovariance(spark, sfDir)
    val (x, lambda) = powerIterate(a)
    val trace = covTrace(a)
    // degenerate spectra (zero covariance, or an iterate that dies in
    // the null space) emit NULL, matching the twin's CASE guards —
    // Spark would otherwise emit NaN where DuckDB's x/0 gives NULL
    // and the gate hash would flip on the first singleton-ish fixture
    val ok = lambda > 0 && !lambda.isNaN
    (0 until Dim).map { d =>
      (d.toLong,
        if (ok) Some(x(d)) else None,
        if (ok) Some(lambda) else None,
        if (ok && trace > 0) Some(lambda / trace) else None)
    }
      .toDF("i", "loading_raw", "lambda_raw", "explained_raw")
      .select(col("i"), round(col("loading_raw"), 6).as("loading"),
        round(col("lambda_raw"), 6).as("lambda_q"),
        round(col("explained_raw"), 6).as("explained"))
      .orderBy("i")
  }

  /** One [[PowerIters]]-step power-iteration CTE chain on the matrix
    * CTE `mat` (rows as (i, row)), with every state name prefixed by
    * `tag` — `tag = ""` reproduces q259/q262's y1..x8 chain exactly;
    * q264's deflation loop instantiates one chain per component. Every
    * state is MATERIALIZED: each is referenced twice downstream and
    * DuckDB's CTE inlining otherwise expands a K-step chain into 2^K
    * copies of the upstream plan (the q253 cliff, third sighting —
    * the first un-barriered draft hung >120s vs 0.12s barriered). */
  private def powerChainSql(mat: String, tag: String): String = {
    val iters = (1 to PowerIters).map { r =>
      val xp = if (r == 1) s"x${tag}0" else s"x$tag${r - 1}"
      s"""y$tag$r AS MATERIALIZED (
         |  SELECT a.i AS i, list_dot_product(a.row, $xp.v) AS y
         |  FROM $mat a, $xp
         |), n$tag$r AS MATERIALIZED (
         |  SELECT sqrt(list_dot_product(list(y ORDER BY i),
         |                               list(y ORDER BY i))) AS nrm
         |  FROM y$tag$r
         |), x$tag$r AS MATERIALIZED (
         |  SELECT list(y / n$tag$r.nrm ORDER BY i) AS v
         |  FROM y$tag$r, n$tag$r
         |)""".stripMargin
    }.mkString(",\n")
    s"""x${tag}0 AS (
       |  SELECT list_transform(range($Dim), d -> 0.125::DOUBLE) AS v
       |),
       |$iters""".stripMargin
  }

  /** Shared oracle prefix for q259/q262: covariance cells from the
    * exact integer co-moments, the matrix rows, the trace, and the
    * unrolled power iteration ending at x$PowerIters / n$PowerIters. */
  private val covPowerCte: String =
    s"""${covCellsCteSql(labeled = false)}, a AS MATERIALIZED (
       |  SELECT i, list(c ORDER BY j) AS row FROM full_cells GROUP BY i
       |), tr AS (
       |  SELECT list_sum(list(c ORDER BY i)) AS trace
       |  FROM cell WHERE i = j
       |),
       |${powerChainSql("a", "")}""".stripMargin

  // Degenerate guards are isfinite(x) AND x > 0, not x > 0 alone:
  // DuckDB >= 1.1 defaults ieee_floating_point_ops=true, where a
  // zero-norm iterate yields NaN (not NULL) and NaN > 0 evaluates
  // TRUE — the bare guard would emit NaN where Spark emits NULL and
  // flip the gate hash on the first degenerate fixture after a
  // duckdb upgrade (advisor finding, round 9).
  val covarianceSpectrumSql: String =
    s"""WITH $covPowerCte
       |SELECT CAST(t.d AS BIGINT) AS i,
       |       CASE WHEN isfinite(nf.nrm) AND nf.nrm > 0
       |            THEN round(xf.v[t.d + 1], 6) END
       |         AS loading,
       |       CASE WHEN isfinite(nf.nrm) AND nf.nrm > 0
       |            THEN round(nf.nrm, 6) END AS lambda_q,
       |       CASE WHEN isfinite(nf.nrm) AND nf.nrm > 0
       |            AND isfinite(tr.trace) AND tr.trace > 0
       |            THEN round(nf.nrm / tr.trace, 6) END AS explained
       |FROM (SELECT unnest(range($Dim)) AS d) t,
       |     x$PowerIters xf, n$PowerIters nf, tr
       |ORDER BY i""".stripMargin

  /** q262 — spectral effective rank of the embedding covariance: the
    * participation ratio trace(A)²/‖A‖²_F — equal to (Σλ)²/Σλ², D for
    * an isotropic space, → 1 as the spectrum collapses onto one
    * direction — plus the top-1 share from q259's iterate. This is
    * the embedding-collapse early-warning a representation pipeline
    * tracks per snapshot (the classic participation-ratio form of
    * RankMe-style rank diagnostics): BOTH statistics come from the
    * same D²-bounded matrix, so the whole query costs one GramMatrix
    * pass regardless of corpus size.
    *
    * Float discipline: trace and Frobenius fold over the cells in
    * pinned ascending order on both engines (list folds in the twin,
    * the same ascending loops on the driver); every cell is the
    * shared exact-co-moment expression; round(6) at the edge. */
  def effectiveRank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val a = quantizedCovariance(spark, sfDir)
    val (_, lambda) = powerIterate(a)
    val trace = covTrace(a)
    val fro2 = fro2Of(a)
    // fro2 itself is NOT emitted: at ~1e10 magnitude one ULP is
    // ~7.6e-6, above the round(6) grid, so a single last-bit
    // divergence anywhere in the 4096-term fold would flip the hash
    // (observed on q263's per-label twin before this was cut). The
    // RATIO is safe — er ~ tens, where ULP noise is ~1e-14. NULL on
    // degenerate spectra, matching the twin's CASE guards.
    val okT1 = lambda > 0 && !lambda.isNaN && trace > 0
    Seq((Dim.toLong, trace,
      if (fro2 > 0) Some(trace * trace / fro2) else None,
      if (okT1) Some(lambda / trace) else None))
      .toDF("dim", "trace_raw", "er_raw", "t1_raw")
      .select(col("dim"), round(col("trace_raw"), 6).as("trace_q"),
        round(col("er_raw"), 6).as("effective_rank"),
        round(col("t1_raw"), 6).as("top1_share"))
  }

  val effectiveRankSql: String =
    s"""WITH $covPowerCte, er AS (
       |  SELECT list_sum(list(c * c ORDER BY i, j)) AS fro2
       |  FROM full_cells
       |)
       |SELECT CAST($Dim AS BIGINT) AS dim,
       |       round(tr.trace, 6) AS trace_q,
       |       CASE WHEN isfinite(er.fro2) AND er.fro2 > 0
       |            THEN round(tr.trace * tr.trace / er.fro2, 6) END
       |         AS effective_rank,
       |       CASE WHEN isfinite(nf.nrm) AND nf.nrm > 0
       |            AND isfinite(tr.trace) AND tr.trace > 0
       |            THEN round(nf.nrm / tr.trace, 6) END AS top1_share
       |FROM tr, er, n$PowerIters nf""".stripMargin

  /** q263 — per-LABEL effective rank: q262's participation ratio
    * conditioned on the class label, the class-conditional collapse
    * detector (a class whose members all paraphrase one template
    * shows er → 1 for that label while the corpus-wide q262 still
    * reads healthy — exactly the failure mode per-slice monitoring
    * exists to catch).
    *
    * Scale shape: ONE typed-aggregator pass — each partition folds
    * its vectors into per-label packed Gram buffers, the shuffle
    * carries |labels| × (D(D+1)/2 + D + 1) longs (~2 KB per label,
    * NEVER corpus-sized), and the per-label trace/Frobenius/ratio
    * arithmetic runs on the driver over the collected buffers (the
    * q259/q262 bounded-collect precedent, |labels|-bounded). */
  def labelRank(spark: SparkSession, sfDir: String): DataFrame =
    labelRankOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame (specs plant spectra:
    * a label whose vectors all sit on one axis must read er = 1). */
  def labelRankOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    import spark.implicits._
    val packed: Array[(Long, Seq[Long])] = embs
      // symmetric with the twin's WHERE label IS NOT NULL — without
      // it the non-nullable tuple encoder throws where DuckDB would
      // silently aggregate a NULL group
      .filter(col("label").isNotNull)
      .select(col("label").cast("long").as("label"),
        transform(col("embedding"),
          e => round(e.cast("double") * CovScale).cast("long")).as("qv"))
      .as[(Long, Seq[Long])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.GramMatrix(Dim).toColumn)
      .collect()
    val rows = packed.sortBy(_._1).map { case (label, g) =>
      val (a, n) = gramToCov(g)
      val trace = covTrace(a)
      val fro2 = fro2Of(a)
      // NULL for a degenerate label (singleton, or all members
      // identical after quantization — the template-collapsed class
      // this query exists to catch): the twin's x/0 is NULL where
      // Scala's would be NaN, so the guard keeps the engines equal
      (label, n, trace, if (fro2 > 0) Some(trace * trace / fro2) else None)
    }
    // raw fro2 is deliberately NOT a column: see effectiveRank — at
    // ~1e10 one ULP beats the round(6) grid and the per-label twin
    // DID flip on it; the ratio and the 64-term trace are safe.
    rows.toSeq
      .toDF("label", "n_vectors", "trace_raw", "er_raw")
      .select(col("label"), col("n_vectors"),
        round(col("trace_raw"), 6).as("trace_q"),
        round(col("er_raw"), 6).as("effective_rank"))
      .orderBy("label")
  }

  val labelRankSql: String =
    s"""WITH ${covCellsCteSql(labeled = true)}, tr AS (
       |  SELECT label, list_sum(list(c ORDER BY i)) AS trace
       |  FROM cell WHERE i = j GROUP BY label
       |), fr AS (
       |  SELECT label, list_sum(list(c * c ORDER BY i, j)) AS fro2
       |  FROM full_cells GROUP BY label
       |), cnt AS (
       |  SELECT label, COUNT(*) AS n FROM q GROUP BY 1
       |)
       |SELECT CAST(c.label AS BIGINT) AS label,
       |       CAST(c.n AS BIGINT) AS n_vectors,
       |       round(tr.trace, 6) AS trace_q,
       |       CASE WHEN fr.fro2 > 0
       |            THEN round(tr.trace * tr.trace / fr.fro2, 6) END
       |         AS effective_rank
       |FROM cnt c JOIN tr USING (label) JOIN fr USING (label)
       |ORDER BY label""".stripMargin

  /** q216 — cross-modal dedup consistency: do TEXT near-dups look like
    * near-dups in EMBEDDING space? The fixture keys embeddings by the
    * same id space as documents (vec_id ≡ doc_id), so each verified
    * q29 pair picks up both endpoint vectors and reports, per Jaccard
    * decile, the cosine distribution — the audit that decides whether
    * a cheaper modality can stand in for the expensive one at a given
    * threshold. Per-pair cosines round(6) first and sum as exact
    * DECIMAL(18,6) so the bucket means are order-independent; the
    * decile cut floors the identical double in both engines. Scale
    * shape: two hash joins keyed by doc id on the bounded memoized
    * pair list, then a ≤6-group aggregate.
    */
  def modalityConsistency(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = graft.ext.Dedup.verifiedNgramPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    pairs
      .join(emb.select(col("vec_id").as("doc_a"), col("v").as("va")),
        Seq("doc_a"))
      .join(emb.select(col("vec_id").as("doc_b"), col("v").as("vb")),
        Seq("doc_b"))
      .select(col("jaccard"),
        round(cosine(col("va"), col("vb")), 6).as("cos"))
      .groupBy(floor(col("jaccard") * 10).cast("int").as("jbucket"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("cos").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_cos"),
        min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"))
      .orderBy("jbucket")
  }

  val modalityConsistencySql: String =
    s"""WITH p AS (${graft.ext.Dedup.ngramJaccardPairsSql}),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (
       |  SELECT p.jaccard,
       |         round(list_cosine_similarity(ea.v, eb.v), 6) AS cos
       |  FROM p
       |  JOIN e ea ON p.doc_a = ea.vec_id
       |  JOIN e eb ON p.doc_b = eb.vec_id
       |)
       |SELECT CAST(floor(jaccard * 10) AS INTEGER) AS jbucket,
       |       COUNT(*) AS n_pairs,
       |       round(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
       |             / COUNT(*), 6) AS mean_cos,
       |       MIN(cos) AS min_cos, MAX(cos) AS max_cos
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** q220 — IVF list-balance audit: the per-list population of q25's
    * inverted file. List skew is what turns an nprobe=2 ANN query into
    * a tail-latency outlier (one hot list does all the work) — this is
    * the audit that decides whether the codebook needs retraining.
    * ratio_to_mean = n·K/N with one shared double sequence; everything
    * before it is the exact integer list census. Scale shape: the
    * assignment is the same broadcast-codebook map-side argmax q25
    * uses (K·Dim literals, no join), then a K-group aggregate.
    */
  def ivfBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = ivfCodebook(e)
    val n = e.count() // 1-row anchor, interpolated literally
    val k = cents.length
    e.withColumn("cid", ivfAssign(cents.toSeq, col("v")))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"))
      .select(col("cid"), col("n_vecs"),
        round(col("n_vecs").cast("double") / lit(n.toDouble), 6)
          .as("share"),
        round(col("n_vecs").cast("double") * lit(k.toDouble) /
          lit(n.toDouble), 6).as("ratio_to_mean"))
      .orderBy("cid")
  }

  val ivfBalanceSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${ivfCentCtes("cent", "e", "v")},
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid)
       |             AS rn
       |    FROM e, cent c) WHERE rn = 1
       |), tot AS (SELECT COUNT(*) AS n FROM e),
       |kc AS (SELECT COUNT(*) AS k FROM cent)
       |SELECT cid, COUNT(*) AS n_vecs,
       |       round(CAST(COUNT(*) AS DOUBLE) / CAST(tot.n AS DOUBLE), 6)
       |         AS share,
       |       round(CAST(COUNT(*) AS DOUBLE) * CAST(kc.k AS DOUBLE)
       |             / CAST(tot.n AS DOUBLE), 6) AS ratio_to_mean
       |FROM asg, tot, kc
       |GROUP BY cid, tot.n, kc.k ORDER BY cid""".stripMargin

  // ----------------------------------------------------------------
  // q264 — PCA whitening application (closes the q259/q262/q263 loop:
  // those DIAGNOSE collapse, this APPLIES the decorrelation)
  // ----------------------------------------------------------------

  /** Components kept by the q264 whitener. 8 is the dim-reduction
    * regime a PQ/int8 stage actually consumes (q111/q147 both degrade
    * on anisotropic inputs); the full-D whiten is the same loop with
    * WhitenK = Dim and nothing below depends on the choice. */
  val WhitenK = 8

  /** Relative variance floor: a component is APPLIED only while
    * λ > trace·eps. Two things live below 1e-4: (a) genuine
    * directions carrying <0.01% of total variance — whitening one
    * amplifies a near-constant axis to unit scale, which is exactly
    * the fake-rank failure a downstream PQ/int8 stage pays for; and
    * (b) DEFLATION RESIDUE — an 8-step power iterate is off its
    * eigenvector by ~(λ₂/λ₁)^8, so deflating leaves ~λ₁·ε of ghost
    * mass (1e-5-ish relative for the ≥4x gaps the spec plants; NOT
    * float noise — the first 1e-9 draft retained a ghost component
    * whose whitened values hit −4e4 on the planted rank-3 fixture).
    * Premise, documented not enforced: real components don't hug the
    * floor, and consecutive gaps are ≳2.5x OR near-degenerate (where
    * any orthogonal sub-basis whitens equally well); the threshold
    * compares identically-derived doubles in both engines, so the
    * branch flips only exactly AT the floor. */
  val WhitenEps = 1e-4

  /** In-place rank-1 deflation a ← a − λ·v·vᵀ, the op order the twin's
    * `row[j+1] - nrm * v[i+1] * v[j+1]` replicates (left-assoc). */
  private def deflate(a: Array[Array[Double]], v: Array[Double],
      lambda: Double): Unit = {
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) {
        a(i)(j) -= lambda * v(i) * v(j); j += 1
      }
      i += 1
    }
  }

  /** Top-k (component, λ) pairs by [[PowerIters]]-step power iteration
    * with rank-1 deflation between components — `a0` is copied, not
    * mutated. A degenerate chain (zero matrix → zero norm → NaN
    * iterate) poisons every later component with NaN, identically in
    * both engines; the retention gate turns those into NULL output. */
  private[graft] def deflatedSpectrum(a0: Array[Array[Double]],
      k: Int): Seq[(Array[Double], Double)] = {
    val a = a0.map(_.clone())
    (0 until k).map { _ =>
      val (v, lambda) = powerIterate(a)
      deflate(a, v, lambda)
      (v, lambda)
    }
  }

  /** The retention gate, Scala face — the twin's
    * `isfinite(nrm) AND isfinite(trace) AND trace > 0 AND
    * nrm > trace * eps`. isFinite (not just NaN) on BOTH operands
    * because DuckDB ≥1.1 evaluates NaN > x as TRUE (NaN sorts
    * greatest); the bare > would diverge on the first degenerate. */
  private def retainedComp(lambda: Double, trace: Double): Boolean =
    java.lang.Double.isFinite(lambda) && java.lang.Double.isFinite(trace) &&
      trace > 0 && lambda > trace * WhitenEps

  /** q264 — PCA-whitening application: each embedding projected onto
    * the top-[[WhitenK]] covariance eigenbasis and scaled to unit
    * variance, w_k = vₖ·(x − μ)/√λₖ — the decorrelation a feature
    * pipeline runs between the q259/q262 diagnosis and its ANN /
    * quantization stage (PQ codebooks and int8 grids both assume
    * isotropy; q111/q147 measure exactly the distortion this removes).
    * Components under the [[WhitenEps]] floor emit NULL, so the output
    * column set IS the usable rank.
    *
    * Float discipline: rotation AND scale derive on the driver from
    * the same exact integer co-moments as q210/q259 (one shared cell
    * expression, one proven 8-step iteration per component, rank-1
    * deflation between components); the per-vector projection is one
    * ordered 64-term fold per component at O(1) output magnitude —
    * ULP noise ~1e-15 against the round(6) grid.
    *
    * Scale shape: ONE GramMatrix fold (~2 KB crosses the wire), an
    * O(K·(PowerIters+D)·D²) driver eigensolve (~0.3 Mflop), then a
    * MAP-ONLY projection with the rotation embedded as literals —
    * zero shuffle except the output sort; the plan is byte-identical
    * at any corpus size. This is (b) on the custom-operator ladder:
    * compose existing ops, no new physical operator needed. */
  def pcaWhiten(spark: SparkSession, sfDir: String): DataFrame =
    pcaWhitenOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Driver-side whitening model from ONE Gram fold: (μ, top-K
    * (component, λ) pairs, trace) — shared by q264 (the transform)
    * and q266 (the payoff audit) so both whiten with the same
    * parameters by construction. */
  private[graft] def whitenModel(spark: SparkSession, embs: DataFrame)
      : (IndexedSeq[Double], Seq[(Array[Double], Double)], Double) = {
    val g = quantizedGramOf(spark, embs)
    val (a, n) = gramToCov(g)
    val trace = covTrace(a)
    val tri = Dim * (Dim + 1) / 2
    // μ_d = sx_d / n — the twin's CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)
    val mu = (0 until Dim).map(d => g(tri + d).toDouble / n.toDouble)
    (mu, deflatedSpectrum(a, WhitenK), trace)
  }

  /** One whitened coordinate over a `qv` long-array column — None when
    * the component fails the retention gate. The ONE Scala home of the
    * projection expression (ascending-d left fold, then /√λ, then the
    * round(6) edge); the twins interpolate [[whitenCompExprSql]]. */
  private def whitenCompCol(mu: IndexedSeq[Double], v: Array[Double],
      lambda: Double, trace: Double): Option[Column] =
    if (!retainedComp(lambda, trace)) None
    else {
      val s = math.sqrt(lambda)
      // One native-kernel dot of the centered row against the literal
      // component instead of 64 inlined (qv[d]-mu_d)*v_d product terms:
      // the kernel multiplies and folds in ascending-d order with left
      // association — bit-equal to the previous reduce(_ + _) chain —
      // while shrinking each component's expression tree from ~260
      // nodes to 4 (the centered array is an identical subexpression
      // across all WhitenK components, so codegen's subexpression
      // elimination computes it once per row). Catalyst planning time
      // scales with tree size, and this tree used to ride EVERY
      // whitening-family plan (q264/q266/q268/q269/q272/q273).
      val cen = zip_with(col("qv").cast("array<double>"),
        typedlit(mu.toIndexedSeq), (x, m) => x - m)
      val proj = graft.functions.DotProduct.dot_product(
        cen, typedlit(v.toIndexedSeq))
      Some(round(proj / lit(s), 6))
    }

  /** Core over an injectable embeddings frame (specs plant anisotropic
    * spectra and assert post-whitening effective rank). */
  def pcaWhitenOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    val (mu, comps, trace) = whitenModel(spark, embs)
    val qv = embs.select(col("vec_id"),
      transform(col("embedding"),
        e => round(e.cast("double") * CovScale).cast("long")).as("qv"))
    val wcols = comps.zipWithIndex.map { case ((v, lambda), k) =>
      whitenCompCol(mu, v, lambda, trace)
        .getOrElse(lit(null).cast("double")).as(s"w$k")
    }
    qv.select(col("vec_id") +: wcols: _*).orderBy("vec_id")
  }

  /** q264 twin: the SAME deflated power iteration unrolled — one
    * [[powerChainSql]] chain per component on the running deflated
    * matrix, every state MATERIALIZED (the q259 exponential-inlining
    * cliff, now per component), then the per-vector projection as an
    * ascending list fold. Rotation, scale, and retention all derive
    * from the shared exact-integer cells, so both engines whiten with
    * bit-identical parameters. */
  /** One whitened coordinate as a SQL expression (no alias) — the
    * twin of [[whitenCompCol]], interpolated by both the q264 and
    * q266 oracles. `c` is the 1-based component index. */
  private def whitenCompExprSql(c: Int): String =
    s"""CASE WHEN isfinite(nc${c}_$PowerIters.nrm)
       |                 AND isfinite(tr.trace) AND tr.trace > 0
       |                 AND nc${c}_$PowerIters.nrm > tr.trace * $WhitenEps
       |            THEN round(list_sum(list_transform(range($Dim),
       |                   d -> (CAST(q.qv[d + 1] AS DOUBLE) - mu.v[d + 1])
       |                        * xc${c}_$PowerIters.v[d + 1]))
       |                 / sqrt(nc${c}_$PowerIters.nrm), 6)
       |       END""".stripMargin

  /** The single-row CTEs the per-component expression references. */
  private val whitenFinalsSql: String = (1 to WhitenK)
    .map(c => s"xc${c}_$PowerIters, nc${c}_$PowerIters").mkString(", ")

  /** Shared oracle prefix for q264/q266: covariance build, trace,
    * mean vector, and one power chain + rank-1 deflation per
    * component — every state MATERIALIZED (the q259 exponential-
    * inlining cliff, per component here). */
  private val whitenCtesSql: String = {
    val chains = (1 to WhitenK).map { c =>
      val mat = if (c == 1) "a" else s"d${c - 1}"
      val chain = powerChainSql(mat, s"c${c}_")
      val defl =
        if (c == WhitenK) ""
        else
          s""",
             |d$c AS MATERIALIZED (
             |  SELECT m.i,
             |         list_transform(range($Dim),
             |           j -> m.row[j + 1]
             |                - nc${c}_$PowerIters.nrm
             |                  * xc${c}_$PowerIters.v[m.i + 1]
             |                  * xc${c}_$PowerIters.v[j + 1]) AS row
             |  FROM $mat m, xc${c}_$PowerIters, nc${c}_$PowerIters
             |)""".stripMargin
      chain + defl
    }.mkString(",\n")
    s"""${covCellsCteSql(labeled = false)}, a AS MATERIALIZED (
       |  SELECT i, list(c ORDER BY j) AS row FROM full_cells GROUP BY i
       |), tr AS (
       |  SELECT list_sum(list(c ORDER BY i)) AS trace
       |  FROM cell WHERE i = j
       |), cnt AS (
       |  SELECT COUNT(*) AS n FROM q
       |), mu AS MATERIALIZED (
       |  SELECT list(CAST(sx AS DOUBLE) / CAST(cnt.n AS DOUBLE)
       |              ORDER BY d) AS v
       |  FROM m, cnt
       |),
       |$chains""".stripMargin
  }

  val pcaWhitenSql: String = {
    val wcols = (0 until WhitenK)
      .map(k => s"       ${whitenCompExprSql(k + 1)} AS w$k")
      .mkString(",\n")
    s"""WITH $whitenCtesSql
       |SELECT q.vec_id,
       |$wcols
       |FROM q, mu, tr, $whitenFinalsSql
       |ORDER BY vec_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // q266 — whitening payoff audit (does running q264 before the
  // int8/PQ stage actually buy anything? measure, don't guess)
  // ----------------------------------------------------------------

  /** q147's int8 scale as a Column — staged into its OWN projection
    * by q266 so it computes once per row: inlining it inside the
    * dequant lambda re-evaluates the full aggregate per ELEMENT, and
    * when `v` is itself the (expensive) whitened projection the tree
    * re-expands ~16× per row — the first q266 draft paid 5.5 ms/row
    * for a ~5 kflop kernel. Referencing ALIASED columns keeps every
    * duplicate a cheap attribute (CollapseProject refuses to merge
    * multiply-referenced expensive aliases, so the stages hold). */
  private def int8ScaleCol(v: Column): Column =
    aggregate(transform(v, x => abs(x)), lit(0.0),
      (a, e) => greatest(a, e)) / lit(127.0)

  /** Per-row symmetric int8 cosine distortion — q147's exact kernel
    * (round-to-grid, 1 − cos(v, dequant(v)), 0 on a zero vector) over
    * a PRE-STAGED scale column. */
  private def int8DistCol(v: Column, scale: Column): Column =
    when(scale > 0.0,
      lit(1.0) - cosine(v, transform(v, x => round(x / scale, 0) * scale)))
      .otherwise(lit(0.0))

  /** Whitened representation as one array column + the degeneracy
    * flag, from ONE model derivation — the shared Scala home of the
    * q266/q268/q269 "rebuild the whitened coords on the same scan"
    * step. A fully-degenerate model (no retained component) returns
    * the [0.0] stand-in (keeps downstream plans well-typed) and
    * flag=true so callers mask their whitened outputs NULL. */
  private def whitenedArrayCol(spark: SparkSession, embs: DataFrame)
      : (Column, Boolean) = {
    val (mu, comps, trace) = whitenModel(spark, embs)
    val retained = comps.flatMap { case (v, lambda) =>
      whitenCompCol(mu, v, lambda, trace)
    }
    (if (retained.isEmpty) array(lit(0.0)) else array(retained: _*),
      retained.isEmpty)
  }

  /** The `wh` CTE (per-vec retained whitened list) over the q264
    * prefix — the shared SQL home of the same step. */
  private def whitenedListCteSql(alias: String): String = {
    val wlist = (1 to WhitenK).map(whitenCompExprSql).mkString(",\n        ")
    s"""wh AS MATERIALIZED (
       |  SELECT q.vec_id,
       |         list_filter([$wlist], x -> x IS NOT NULL) AS $alias
       |  FROM q, mu, tr, $whitenFinalsSql
       |)""".stripMargin
  }

  /** q266 — whitening payoff: per label, the int8 quantization
    * distortion (q147's kernel) of the RAW 64-dim embedding vs the
    * WHITENED top-K representation (q264's exact output values, NULL
    * components dropped), plus their ratio — the measurement that
    * decides whether the pipeline runs q264 before its index build.
    * Symmetric per-vector int8 wastes grid on anisotropic inputs
    * (one dominant axis sets the step for every axis); whitening
    * equalizes per-axis scale, so the whitened copy should quantize
    * strictly better wherever q259/q262 diagnose anisotropy. This is
    * the q258 discipline: an audit must MEASURE the shipped operators
    * (q147's kernel on q264's values), never a private twin of them.
    *
    * Scale shape: q264's bounded model derivation (ONE Gram fold +
    * driver eigensolve), then a single MAP-ONLY pass scoring both
    * representations row-locally — no join (the whitened coords are
    * rebuilt from the broadcast model on the same scan, not joined
    * back from q264's output), one |labels|-sized agg. */
  def whitenPayoff(spark: SparkSession, sfDir: String): DataFrame =
    whitenPayoffOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame (specs plant anisotropy
    * and assert the whitened copy quantizes strictly better). */
  def whitenPayoffOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    // a fully-degenerate model (no retained component) scores the
    // whitened side as the zero vector -> distortion 0.0, matching
    // the twin's empty-list NULL-scale CASE arm
    val (wv, _) = whitenedArrayCol(spark, embs)
    // three staged projections: wv once per row, then both scales
    // once per row, then the kernels over pure attribute references
    val scored = embs
      .select(col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"),
        transform(col("embedding"),
          e => round(e.cast("double") * CovScale).cast("long")).as("qv"))
      .select(col("label"), col("v"), wv.as("wv"))
      .select(col("label"), col("v"), col("wv"),
        int8ScaleCol(col("v")).as("sr"), int8ScaleCol(col("wv")).as("sw"))
      .select(col("label"),
        int8DistCol(col("v"), col("sr")).as("dist_raw"),
        int8DistCol(col("wv"), col("sw")).as("dist_wh"))
    def nanoMean(c: Column): Column =
      round(sum(round(c * 1e9, 0).cast("long")).cast("double") /
        count(lit(1)).cast("double") / 1e9, 6)
    scored.groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        nanoMean(col("dist_raw")).as("raw_mean_distortion"),
        nanoMean(col("dist_wh")).as("white_mean_distortion"))
      // the gain divides the already-rounded means (identical doubles
      // in both engines), NULL when the whitened copy is lossless at
      // the nano grid
      .withColumn("distortion_gain",
        when(col("white_mean_distortion") > 0,
          round(col("raw_mean_distortion") / col("white_mean_distortion"),
            6)))
      .orderBy("label")
  }

  /** q266 twin: q264's shared CTE prefix, the whitened list per vec
    * (NULL components filtered), then the q147 kernel on both
    * representations and per-label nano-unit means. */
  val whitenPayoffSql: String = {
    s"""WITH $whitenCtesSql,
       |${whitenedListCteSql("wv")}, b AS (
       |  SELECT e.label, e.embedding::DOUBLE[] AS v, wh.wv
       |  FROM embeddings e JOIN wh ON wh.vec_id = e.vec_id
       |), s AS (
       |  SELECT label, v, wv,
       |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS sr,
       |         list_max(list_transform(wv, x -> abs(x))) / 127.0 AS sw
       |  FROM b
       |), d AS (
       |  SELECT label,
       |         CASE WHEN sr > 0.0
       |              THEN 1.0 - list_cosine_similarity(v,
       |                list_transform(v, x -> round(x / sr) * sr))
       |              ELSE 0.0 END AS dist_raw,
       |         CASE WHEN sw > 0.0
       |              THEN 1.0 - list_cosine_similarity(wv,
       |                list_transform(wv, x -> round(x / sw) * sw))
       |              ELSE 0.0 END AS dist_wh
       |  FROM s
       |), g AS (
       |  SELECT CAST(label AS BIGINT) AS label,
       |         CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |         round(SUM(round(dist_raw * 1e9)::BIGINT)::DOUBLE
       |               / COUNT(*)::DOUBLE / 1e9, 6) AS raw_mean_distortion,
       |         round(SUM(round(dist_wh * 1e9)::BIGINT)::DOUBLE
       |               / COUNT(*)::DOUBLE / 1e9, 6) AS white_mean_distortion
       |  FROM d GROUP BY 1
       |)
       |SELECT label, n_vectors, raw_mean_distortion, white_mean_distortion,
       |       CASE WHEN white_mean_distortion > 0
       |            THEN round(raw_mean_distortion / white_mean_distortion, 6)
       |       END AS distortion_gain
       |FROM g ORDER BY label""".stripMargin
  }

  // ----------------------------------------------------------------
  // q265 — incremental covariance drift monitor (q262 as a per-
  // snapshot monitoring operator instead of a point diagnostic)
  // ----------------------------------------------------------------

  /** Ingest batches the drift monitor snapshots on. The fixture has no
    * arrival column, so contiguous vec_id ranges stand in for arrival
    * order (vec_ids are dense 0..N−1); at 100 TB the batch key is the
    * ingest date partition and NOTHING below changes — the per-batch
    * buffer is still one GramMatrix fold, the merge is still
    * element-wise integer addition. */
  val DriftBatches = 8

  /** Width of one ingest batch over the RAW embeddings (pre norm
    * filter): ceil((maxId+1)/B) — the twin's (MAX(vec_id) + B) // B.
    * One bounded aggregate job. */
  private[graft] def ingestWidth(embs: DataFrame): Long = {
    val maxId = embs.agg(max(col("vec_id"))).head().getLong(0)
    (maxId + DriftBatches) / DriftBatches
  }

  /** The STANDING corpus on the ingest axis: batches 0‥DriftBatches-2
    * of `width`-wide vec_id ranges (the last batch is the arrival). */
  private[graft] def standingSlice(e: DataFrame, width: Long): DataFrame =
    e.filter(expr(s"vec_id div $width") < DriftBatches - 1)

  /** Vector count packed at the tail of a Gram buffer. */
  private[graft] def gramCount(g: Seq[Long]): Long =
    g(Dim * (Dim + 1) / 2 + Dim)

  /** Element-wise merge of two packed Gram buffers — exact integer
    * addition, associative and commutative, so any merge tree (batch
    * scanLeft, streaming foreachBatch, a 1000-executor partial tree)
    * reaches the same buffer. The GramMatrixSpec merge property is the
    * ground for this. */
  private[graft] def mergeGram(a: Seq[Long], b: Seq[Long]): Seq[Long] =
    a.zip(b).map { case (x, y) => x + y }

  /** One cumulative buffer → (n, trace, effective rank): the shared
    * snapshot kernel of batch q265 and the streaming monitor — both
    * faces MUST route through here or replay-equality is luck. NULL
    * (not NaN) effective rank on a degenerate spectrum, isFinite-
    * guarded like the twin (NaN > 0 is TRUE in DuckDB ≥1.1). */
  private[graft] def gramSnapshot(g: Seq[Long]): (Long, Double, Option[Double]) = {
    val (a, n) = gramToCov(g)
    val trace = covTrace(a)
    val fro2 = fro2Of(a)
    (n, trace,
      if (java.lang.Double.isFinite(fro2) && fro2 > 0)
        Some(trace * trace / fro2)
      else None)
  }

  /** One snapshot row with the output-edge rounding — the streaming
    * monitor appends exactly this frame per micro-batch, so stream
    * and batch literally share the final projection. */
  private[graft] def driftSnapshotDf(spark: SparkSession, batchId: Long,
      g: Seq[Long]): DataFrame = {
    import spark.implicits._
    val (n, trace, er) = gramSnapshot(g)
    Seq((batchId, n, trace, er))
      .toDF("batch_id", "n_vectors_cum", "trace_raw", "er_raw")
      .select(col("batch_id"), col("n_vectors_cum"),
        round(col("trace_raw"), 6).as("trace_q"),
        round(col("er_raw"), 6).as("effective_rank"))
  }

  /** q265 — incremental covariance drift monitor: the per-ingest-batch
    * Gram buffers merged cumulatively along the batch axis, emitting
    * vector count, trace, and spectral effective rank per snapshot —
    * the running curve a representation pipeline alerts on (a batch of
    * template-collapsed vectors bends effective rank DOWN at exactly
    * the snapshot it lands in), turning the q262 point diagnostic into
    * the monitoring operator a 100 TB pipeline actually deploys.
    *
    * Scale shape: ONE typed-aggregator pass — partitions fold into
    * per-batch packed buffers, the shuffle carries |batches| × ~2 KB
    * (calendar-bounded, NEVER corpus-bounded), and the cumulative
    * merge is |batches| element-wise integer additions on the driver
    * (the q259/q263 bounded-collect precedent). The integer merge is
    * associative, so the same operator backfills (batch scan) and
    * tails (streaming foreachBatch with ONE ~2 KB buffer as state —
    * [[graft.streaming.StreamJobs.gramDriftMonitor]], replay-equal by
    * construction: both faces call [[gramSnapshot]]). */
  def gramDrift(spark: SparkSession, sfDir: String): DataFrame =
    gramDriftOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Cumulative per-ingest-batch Gram buffers, ascending batch — the
    * shared corpus-side pass of q265 (spectrum-shape drift) and q267
    * (basis-rotation drift): ONE typed-aggregator job, |batches| ×
    * ~2 KB collected, exact integer scanLeft merge. */
  private[graft] def cumGramBuffers(spark: SparkSession,
      embs: DataFrame): Seq[(Long, Seq[Long])] = {
    import spark.implicits._
    val width = ingestWidth(embs)
    val packed = embs
      .select(expr(s"vec_id div $width").as("batch"),
        transform(col("embedding"),
          e => round(e.cast("double") * CovScale).cast("long")).as("qv"))
      .as[(Long, Seq[Long])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.GramMatrix(Dim).toColumn)
      .collect()
    packed.sortBy(_._1).toSeq
      .scanLeft((0L, Seq.empty[Long])) { case ((_, acc), (b, g)) =>
        (b, if (acc.isEmpty) g else mergeGram(acc, g))
      }.drop(1)
  }

  /** Core over an injectable embeddings frame (specs plant a batch of
    * collapsed vectors and assert the rank curve bends at it). */
  def gramDriftOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = cumGramBuffers(spark, embs).map { case (b, g) =>
      val (n, trace, er) = gramSnapshot(g)
      (b, n, trace, er)
    }
    rows.toDF("batch_id", "n_vectors_cum", "trace_raw", "er_raw")
      .select(col("batch_id"), col("n_vectors_cum"),
        round(col("trace_raw"), 6).as("trace_q"),
        round(col("er_raw"), 6).as("effective_rank"))
      .orderBy("batch_id")
  }

  /** q265 twin: per-batch exact integer co-moments, cumulated with
    * window SUMs along the batch axis (integer, so order-free), then
    * the SHARED per-cell expression and the q262 trace/Frobenius folds
    * per snapshot. Batch threading is why this can't interpolate
    * [[covCellsCteSql]] wholesale — the cell arithmetic itself comes
    * from the one shared [[covCellExprSql]] home. Cumulative sxy tops
    * out at the full-corpus value the GramMatrix overflow spec already
    * bounds, so the BIGINT casts are exact. */
  /** Shared oracle prefix for q265/q267: per-batch exact integer
    * co-moments, window-SUM cumulation, the shared cell expression,
    * both triangles, and the per-snapshot trace. */
  private val driftCumCteSql: String =
    s"""wparam AS (
       |  SELECT (MAX(vec_id) + $DriftBatches) // $DriftBatches AS w
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id, vec_id // wparam.w AS batch,
       |         [CAST(round(CAST(e AS DOUBLE) * $CovScale) AS BIGINT)
       |          for e in embedding] AS qv
       |  FROM embeddings, wparam
       |), pos AS (
       |  SELECT batch, vec_id, t.i - 1 AS d, qv[t.i] AS x
       |  FROM q, (SELECT unnest(generate_series(1, $Dim)) AS i) t
       |), bprod AS (
       |  SELECT a.batch, a.d AS i, b.d AS j,
       |         CAST(SUM(a.x * b.x) AS BIGINT) AS sxy
       |  FROM pos a JOIN pos b ON a.vec_id = b.vec_id AND a.d <= b.d
       |  GROUP BY 1, 2, 3
       |), bm AS (
       |  SELECT batch, d, CAST(SUM(x) AS BIGINT) AS sx
       |  FROM pos GROUP BY 1, 2
       |), bn AS (
       |  SELECT batch, COUNT(*) AS bn FROM q GROUP BY 1
       |), cum_prod AS MATERIALIZED (
       |  SELECT batch, i, j,
       |         CAST(SUM(sxy) OVER (PARTITION BY i, j ORDER BY batch)
       |              AS BIGINT) AS sxy
       |  FROM bprod
       |), cum_m AS MATERIALIZED (
       |  SELECT batch, d,
       |         CAST(SUM(sx) OVER (PARTITION BY d ORDER BY batch)
       |              AS BIGINT) AS sx
       |  FROM bm
       |), cum_n AS MATERIALIZED (
       |  SELECT batch, CAST(SUM(bn) OVER (ORDER BY batch) AS BIGINT) AS n
       |  FROM bn
       |), cell AS MATERIALIZED (
       |  SELECT p.batch, p.i, p.j,
       |         ${covCellExprSql("p.sxy", "ma.sx", "mb.sx", "cn.n")} AS c
       |  FROM cum_prod p
       |  JOIN cum_m ma ON p.batch = ma.batch AND p.i = ma.d
       |  JOIN cum_m mb ON p.batch = mb.batch AND p.j = mb.d
       |  JOIN cum_n cn ON p.batch = cn.batch
       |), full_cells AS MATERIALIZED (
       |  SELECT batch, i, j, c FROM cell
       |  UNION ALL
       |  SELECT batch, j AS i, i AS j, c FROM cell WHERE i < j
       |), tr AS (
       |  SELECT batch, list_sum(list(c ORDER BY i)) AS trace
       |  FROM cell WHERE i = j GROUP BY batch
       |)""".stripMargin

  val gramDriftSql: String =
    s"""WITH $driftCumCteSql, fr AS (
       |  SELECT batch, list_sum(list(c * c ORDER BY i, j)) AS fro2
       |  FROM full_cells GROUP BY batch
       |)
       |SELECT CAST(cn.batch AS BIGINT) AS batch_id,
       |       cn.n AS n_vectors_cum,
       |       round(tr.trace, 6) AS trace_q,
       |       CASE WHEN isfinite(fr.fro2) AND fr.fro2 > 0
       |            THEN round(tr.trace * tr.trace / fr.fro2, 6) END
       |         AS effective_rank
       |FROM cum_n cn
       |JOIN tr ON cn.batch = tr.batch
       |JOIN fr ON cn.batch = fr.batch
       |ORDER BY batch_id""".stripMargin

  // ----------------------------------------------------------------
  // q267 — basis-rotation drift (q265 watches the spectrum's SHAPE;
  // this watches whether the q264 ROTATION is going stale)
  // ----------------------------------------------------------------

  /** Ascending-d dot product — the twin's list_dot_product pairing,
    * already proven exact cross-engine by the q259 iterate. */
  private def dotV(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** q267 — rotation staleness: per cumulative snapshot, the absolute
    * cosine between this snapshot's dominant principal component and
    * the PREVIOUS snapshot's (NULL at the first snapshot and on
    * degenerate spectra), plus the snapshot's top-1 variance share —
    * the monitor that tells a pipeline when the whitening rotation it
    * derived (q264) no longer matches the data flowing in: q265's
    * effective rank can hold steady while the BASIS rotates (new
    * dominant topic, same spectrum shape), and a stale rotation
    * silently degrades every consumer of the whitened copy. Absolute
    * cosine because the power iterate's sign follows its overlap with
    * the fixed start vector — identical in both engines, but not a
    * property of the subspace being compared.
    *
    * Scale shape: the SAME |batches|-bounded cumulative buffers as
    * q265 (one shared corpus pass, [[cumGramBuffers]]), then an
    * O(|batches|·PowerIters·D²) driver eigensolve — nothing
    * corpus-sized is touched after the fold. */
  def rotationDrift(spark: SparkSession, sfDir: String): DataFrame =
    rotationDriftOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** One rotation snapshot from a cumulative buffer plus the PREVIOUS
    * snapshot's dominant iterate: (n, iterate, |cos| vs prev, top-1
    * share) — the shared kernel of batch q267 and the streaming
    * monitor; both faces MUST route through here or replay-equality
    * is luck (the [[gramSnapshot]] doctrine). NULL (not NaN) share on
    * a degenerate spectrum and NULL stability when either iterate
    * died in one — the twin's isfinite CASE guards. */
  private[graft] def rotationSnapshot(g: Seq[Long],
      prevV: Option[Array[Double]])
      : (Long, Array[Double], Option[Double], Option[Double]) = {
    val (a, n) = gramToCov(g)
    val trace = covTrace(a)
    val (v, lambda) = powerIterate(a)
    val share =
      if (java.lang.Double.isFinite(lambda) && lambda > 0 &&
        java.lang.Double.isFinite(trace) && trace > 0)
        Some(lambda / trace)
      else None
    val stab = prevV.flatMap { pv =>
      val d = dotV(v, pv)
      if (java.lang.Double.isFinite(d)) Some(math.abs(d)) else None
    }
    (n, v, stab, share)
  }

  /** One q267 snapshot row with the output-edge rounding — the
    * streaming monitor appends exactly this frame per micro-batch
    * (the [[driftSnapshotDf]] shape discipline). */
  private[graft] def rotationSnapshotDf(spark: SparkSession,
      batchId: Long, n: Long, stab: Option[Double],
      share: Option[Double]): DataFrame = {
    import spark.implicits._
    Seq((batchId, n, stab, share))
      .toDF("batch_id", "n_vectors_cum", "stab_raw", "share_raw")
      .select(col("batch_id"), col("n_vectors_cum"),
        round(col("stab_raw"), 6).as("rotation_stability"),
        round(col("share_raw"), 6).as("top1_share"))
  }

  /** Core over an injectable embeddings frame (specs plant a rotation
    * event and assert the dip lands at exactly its snapshot). */
  def rotationDriftOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    import spark.implicits._
    var prev: Option[Array[Double]] = None
    val rows = cumGramBuffers(spark, embs).map { case (b, g) =>
      val (n, v, stab, share) = rotationSnapshot(g, prev)
      prev = Some(v)
      (b, n, stab, share)
    }
    rows.toDF("batch_id", "n_vectors_cum", "stab_raw", "share_raw")
      .select(col("batch_id"), col("n_vectors_cum"),
        round(col("stab_raw"), 6).as("rotation_stability"),
        round(col("share_raw"), 6).as("top1_share"))
      .orderBy("batch_id")
  }

  /** q267 twin: the q265 cumulative prefix, one matrix CTE + one
    * [[powerChainSql]] chain per snapshot (every state MATERIALIZED —
    * the exponential-inlining cliff again), then per-snapshot rows
    * UNION ALLed with the successive-iterate dot. Snapshot count is
    * the [[DriftBatches]] constant, so the unroll is closed-form. */
  val rotationDriftSql: String = {
    val perBatch = (0 until DriftBatches).map { b =>
      s"""ab$b AS MATERIALIZED (
         |  SELECT i, list(c ORDER BY j) AS row
         |  FROM full_cells WHERE batch = $b GROUP BY i
         |),
         |${powerChainSql(s"ab$b", s"b${b}_")}""".stripMargin
    }.mkString(",\n")
    def shareExpr(b: Int): String =
      s"""CASE WHEN isfinite(nb${b}_$PowerIters.nrm)
         |            AND nb${b}_$PowerIters.nrm > 0
         |            AND isfinite(t$b.trace) AND t$b.trace > 0
         |       THEN round(nb${b}_$PowerIters.nrm / t$b.trace, 6)
         |       END AS top1_share""".stripMargin
    val selects = (0 until DriftBatches).map { b =>
      val stab =
        if (b == 0) "NULL::DOUBLE AS rotation_stability"
        else {
          val d = s"list_dot_product(xb${b}_$PowerIters.v, " +
            s"xb${b - 1}_$PowerIters.v)"
          s"""CASE WHEN isfinite($d) THEN round(abs($d), 6)
             |       END AS rotation_stability""".stripMargin
        }
      val prevFinal =
        if (b == 0) "" else s", xb${b - 1}_$PowerIters"
      s"""SELECT CAST($b AS BIGINT) AS batch_id, cn.n AS n_vectors_cum,
         |       $stab,
         |       ${shareExpr(b)}
         |FROM (SELECT n FROM cum_n WHERE batch = $b) cn,
         |     (SELECT trace FROM tr WHERE batch = $b) t$b,
         |     xb${b}_$PowerIters, nb${b}_$PowerIters$prevFinal""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $driftCumCteSql,
       |$perBatch
       |$selects
       |ORDER BY batch_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // q268 — whitening retrieval payoff (q266 measures what int8 costs
  // in DISTORTION; this measures what it costs where an index is
  // actually judged — the top-k neighbor sets it serves)
  // ----------------------------------------------------------------

  /** Symmetric per-vector int8 round-trip — q147's exact grid
    * (scale = max|x|/127, round-to-grid) applied to the CANDIDATE
    * side only: retrieval scores are ASYMMETRIC (float query vs
    * dequantized candidate), the ADC discipline q111's PQ scoring
    * already uses. Identity on a zero vector (scale 0), matching the
    * twin's CASE arm. */
  private def dequantCol(v: Column): Column = {
    def s = aggregate(transform(v, x => abs(x)), lit(0.0),
      (a, e) => greatest(a, e)) / lit(127.0)
    when(s > 0.0, transform(v, x => round(x / s, 0) * s)).otherwise(v)
  }

  /** q268 — whitening retrieval payoff: per query vector, recall@k of
    * int8-quantized brute-force retrieval against the SAME space's
    * float ground truth, in the raw 64-dim space vs the q264 whitened
    * top-K space. Distortion (q266) is a proxy; an ANN index is judged
    * on the neighbor sets it returns, and symmetric int8 on an
    * anisotropic corpus collapses the fine axes that order a
    * neighborhood — the whitened copy should KEEP its float top-k
    * under quantization wherever q259/q262 diagnose anisotropy.
    * Each space is scored against its OWN float ranking by design:
    * whitening changes the metric (that is its purpose), so the audit
    * asks "in the space you serve, what does int8 cost?", never
    * "does whitened retrieval reproduce raw neighbors".
    *
    * Per space: float scores and ADC scores computed on the SAME
    * scored rows (one candidate scan, no GT-vs-quantized join),
    * ranked by (score DESC, neighbor_id) — the q13 deterministic
    * tie-break, which quantization-induced ties make load-bearing —
    * recall = |float-top-k ∩ quantized-top-k| / |float-top-k|, a
    * ratio of integers, exact cross-engine. A model that retains no
    * component (degenerate corpus) masks the whitened columns NULL;
    * Scala decides driver-side, the twin decides data-side, from
    * bit-identical parameters.
    *
    * Scale shape: q264's bounded model derivation (ONE Gram fold +
    * driver eigensolve), then q13's retrieval shape — queries
    * broadcast, ONE candidate scan computing all four scores
    * row-locally, one small shuffle of |queries|·k-bounded ranked
    * rows. Brute-force scoring is audit-class: at 100 TB this runs on
    * a fixture-sized holdout (the q81/q253/q258 precedent), while the
    * serving path stays q14/q25/q111. */
  def whitenRecall(spark: SparkSession, sfDir: String): DataFrame =
    whitenRecallOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame (specs plant an
    * anisotropic corpus whose fine ranking axes sit under the raw
    * int8 grid but above the whitened one). */
  def whitenRecallOn(spark: SparkSession, embs0: DataFrame): DataFrame = {
    val embs = widen(embs0)
    // degenerate model -> whitened columns masked NULL below; the
    // [0.0] stand-in only keeps the scored plan well-typed
    val (wv, degenerate) = whitenedArrayCol(spark, embs)
    val base = embs
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        transform(col("embedding"),
          e => round(e.cast("double") * CovScale).cast("long")).as("qv"))
      .select(col("vec_id"), col("v"), wv.as("wv"))
    val cand = base.select(col("vec_id").as("neighbor_id"),
      col("v").as("cv"), dequantCol(col("v")).as("cq"),
      col("wv").as("cw"), dequantCol(col("wv")).as("cwq"))
    val qs = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        col("v").as("qfv"), col("wv").as("qwv"))
    val scored = cand.join(broadcast(qs),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qfv"), col("cv")).as("c_rf"),
        cosine(col("qfv"), col("cq")).as("c_rq"),
        cosine(col("qwv"), col("cw")).as("c_wf"),
        cosine(col("qwv"), col("cwq")).as("c_wq"))
    def rk(c: String): Column = row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col(c).desc, col("neighbor_id"))).cast("long")
    val ranked = scored.select(col("query_id"),
      rk("c_rf").as("r_rf"), rk("c_rq").as("r_rq"),
      rk("c_wf").as("r_wf"), rk("c_wq").as("r_wq"))
    val k = TopK.toLong
    def hits(f: Column, q: Column): Column =
      sum(when(f <= k && q <= k, 1L).otherwise(0L))
    val agg = ranked.groupBy("query_id").agg(
      hits(col("r_rf"), col("r_rq")).as("raw_hits"),
      hits(col("r_wf"), col("r_wq")).as("white_hits_u"),
      sum(when(col("r_rf") <= k, 1L).otherwise(0L)).as("gt_k"))
    agg.select(col("query_id"), col("gt_k"), col("raw_hits"),
        round(col("raw_hits").cast("double") /
          col("gt_k").cast("double"), 6).as("raw_recall"),
        (if (degenerate) lit(null).cast("long")
         else col("white_hits_u")).as("white_hits"),
        (if (degenerate) lit(null).cast("double")
         else round(col("white_hits_u").cast("double") /
           col("gt_k").cast("double"), 6)).as("white_recall"))
      .orderBy("query_id")
  }

  /** q268 twin: q264's shared CTE prefix, the whitened list per vec
    * (NULL components filtered, q266's `wh` shape), q147's grid on
    * the candidate side of each space, four row_number rankings with
    * the q13 tie-break, and integer hit counts. The degenerate mask
    * (`hasw`) evaluates the same retention decision the Scala face
    * takes driver-side. */
  val whitenRecallSql: String = {
    s"""WITH $whitenCtesSql,
       |${whitenedListCteSql("wvr")}, hasw AS (
       |  SELECT COALESCE(SUM(CASE WHEN len(wvr) > 0 THEN 1 ELSE 0 END), 0)
       |           > 0 AS ok
       |  FROM wh
       |), base AS (
       |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
       |         CASE WHEN len(wh.wvr) > 0 THEN wh.wvr ELSE [0.0] END AS wv
       |  FROM embeddings e JOIN wh ON wh.vec_id = e.vec_id
       |), sc AS (
       |  SELECT vec_id, v, wv,
       |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS sr,
       |         list_max(list_transform(wv, x -> abs(x))) / 127.0 AS sw
       |  FROM base
       |), cand AS (
       |  SELECT vec_id AS neighbor_id, v AS cv,
       |         CASE WHEN sr > 0.0
       |              THEN list_transform(v, x -> round(x / sr) * sr)
       |              ELSE v END AS cq,
       |         wv AS cw,
       |         CASE WHEN sw > 0.0
       |              THEN list_transform(wv, x -> round(x / sw) * sw)
       |              ELSE wv END AS cwq
       |  FROM sc
       |), qs AS (
       |  SELECT vec_id AS query_id, v AS qfv, wv AS qwv
       |  FROM base WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT qs.query_id, c.neighbor_id,
       |         list_cosine_similarity(qs.qfv, c.cv) AS c_rf,
       |         list_cosine_similarity(qs.qfv, c.cq) AS c_rq,
       |         list_cosine_similarity(qs.qwv, c.cw) AS c_wf,
       |         list_cosine_similarity(qs.qwv, c.cwq) AS c_wq
       |  FROM cand c JOIN qs ON c.neighbor_id != qs.query_id
       |), ranked AS (
       |  SELECT query_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY c_rf DESC, neighbor_id) AS r_rf,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY c_rq DESC, neighbor_id) AS r_rq,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY c_wf DESC, neighbor_id) AS r_wf,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY c_wq DESC, neighbor_id) AS r_wq
       |  FROM scored
       |), agg AS (
       |  SELECT query_id,
       |         SUM(CASE WHEN r_rf <= $TopK AND r_rq <= $TopK
       |                  THEN 1 ELSE 0 END) AS raw_hits,
       |         SUM(CASE WHEN r_wf <= $TopK AND r_wq <= $TopK
       |                  THEN 1 ELSE 0 END) AS white_hits_u,
       |         SUM(CASE WHEN r_rf <= $TopK THEN 1 ELSE 0 END) AS gt_k
       |  FROM ranked GROUP BY query_id
       |)
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |       CAST(gt_k AS BIGINT) AS gt_k,
       |       CAST(raw_hits AS BIGINT) AS raw_hits,
       |       round(CAST(raw_hits AS DOUBLE) / CAST(gt_k AS DOUBLE), 6)
       |         AS raw_recall,
       |       CASE WHEN hasw.ok
       |            THEN CAST(white_hits_u AS BIGINT) END AS white_hits,
       |       CASE WHEN hasw.ok
       |            THEN round(CAST(white_hits_u AS DOUBLE)
       |                       / CAST(gt_k AS DOUBLE), 6)
       |       END AS white_recall
       |FROM agg, hasw
       |ORDER BY query_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // q269 — whitening index-balance payoff (q268 measures recall;
  // this measures the OTHER serving cost — IVF list skew, the
  // tail-latency multiplier a 100 TB index pays per query)
  // ----------------------------------------------------------------

  /** q269 — IVF list balance, raw vs whitened: q220's census run in
    * both spaces with the SAME codebook protocol (every vec_id ≡ 0
    * trained fixed-[[IvfK]] codebook, cosine argmax, cid-ascending
    * tie-break),
    * summarized per space as the exact integer imbalance factor
    * K·Σn²/N² — the expected-probe-cost multiplier under uniform
    * queries (1.0 = perfectly balanced lists; Cauchy–Schwarz bounds
    * it ≥ 1) — plus the hot-list ratio max(n)·K/N. An anisotropic
    * corpus herds cosine-Voronoi assignment into the lists aligned
    * with the dominant axis; whitening spreads them, and THIS audit
    * is the measurement that justifies running q264 before the index
    * build (q268's recall argument, replayed for tail latency).
    *
    * Float discipline: everything up to the two output divisions is
    * exact integer arithmetic (counts, squares, max) — no float fold
    * anywhere; the assignment cosines are per-row ordered folds with
    * the proven q25/q220 tie-break.
    *
    * Scale shape: ONE corpus scan — both assignments are map-side
    * argmaxes over broadcast literal codebooks (K·Dim literals each,
    * the q25 shape), the per-space census is one explode(2) + hash
    * aggregate into 2K groups, then a 2-row summary. Nothing joins,
    * nothing corpus-sized shuffles (the explode doubles rows but
    * partial aggregation collapses them map-side). */
  def whitenBalance(spark: SparkSession, sfDir: String): DataFrame =
    whitenBalanceOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame (specs plant anisotropy
    * and assert the whitened census is strictly flatter). */
  def whitenBalanceOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    val (wv, degenerate) = whitenedArrayCol(spark, embs)
    val base = embs
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        transform(col("embedding"),
          e => round(e.cast("double") * CovScale).cast("long")).as("qv"))
      .select(col("vec_id"), col("v"), wv.as("wv"))
    // both spaces' codebooks train as ONE tagged-union job per phase
    // (seed + Lloyd stats) — 2 driver round-trips instead of 4,
    // identical per-space folds (guide §1.2)
    val cbs = ivfCodebooks(Seq(
      "raw" -> base.select(col("vec_id"), col("v")),
      "white" -> base.select(col("vec_id"), col("wv"))))
    val centsRaw = cbs("raw")
    val centsWh = cbs("white")
    def argmax(cents: Array[(Long, Seq[Double])], v: Column): Column =
      ivfAssign(cents.toSeq, v)
    val k = centsRaw.length.toLong
    val census = base
      .select(explode(array(
        struct(lit("raw").as("space"),
          argmax(centsRaw, col("v")).as("cid")),
        struct(lit("white").as("space"),
          argmax(centsWh, col("wv")).as("cid")))).as("a"))
      .select(col("a.space").as("space"), col("a.cid").as("cid"))
      .groupBy("space", "cid").agg(count(lit(1)).as("n"))
    val summary = census.groupBy("space").agg(
      sum(col("n")).as("n_vectors"), max(col("n")).as("max_list_u"),
      sum(col("n") * col("n")).as("sum_sq"))
    def masked(c: Column): Column =
      if (!degenerate) c
      else when(col("space") === "raw", c)
    summary.select(col("space"), lit(k).as("k_lists"), col("n_vectors"),
        masked(col("max_list_u")).as("max_list"),
        masked(round(col("max_list_u").cast("double") * k.toDouble /
          col("n_vectors").cast("double"), 6)).as("max_ratio"),
        masked(round(col("sum_sq").cast("double") * k.toDouble /
          (col("n_vectors").cast("double") *
            col("n_vectors").cast("double")), 6)).as("imbalance_factor"))
      .orderBy("space")
  }

  /** q269 twin: the q264 prefix + shared `wh` list, both codebooks by
    * the trained-K rule, both argmax assignments with the q25 tie-break,
    * one unioned census, exact integer summary, masked like the Scala
    * face when the model retains nothing. */
  val whitenBalanceSql: String =
    s"""WITH $whitenCtesSql,
       |${whitenedListCteSql("wvr")}, hasw AS (
       |  SELECT COALESCE(SUM(CASE WHEN len(wvr) > 0 THEN 1 ELSE 0 END), 0)
       |           > 0 AS ok
       |  FROM wh
       |), base AS (
       |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
       |         CASE WHEN len(wh.wvr) > 0 THEN wh.wvr ELSE [0.0] END AS wv
       |  FROM embeddings e JOIN wh ON wh.vec_id = e.vec_id
       |),
       |${ivfCentCtes("centr", "base", "v")},
       |${ivfCentCtes("centw", "base", "wv")},
       |asgr AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT b.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY b.vec_id
       |             ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid)
       |             AS rn
       |    FROM base b, centr c) WHERE rn = 1
       |), asgw AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT b.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY b.vec_id
       |             ORDER BY list_cosine_similarity(b.wv, c.cv) DESC, c.cid)
       |             AS rn
       |    FROM base b, centw c) WHERE rn = 1
       |), census AS (
       |  SELECT 'raw' AS space, cid, COUNT(*) AS n FROM asgr GROUP BY cid
       |  UNION ALL
       |  SELECT 'white' AS space, cid, COUNT(*) AS n FROM asgw GROUP BY cid
       |), kc AS (SELECT COUNT(*) AS k FROM centr),
       |summ AS (
       |  SELECT space, SUM(n) AS n_vectors, MAX(n) AS max_list_u,
       |         SUM(n * n) AS sum_sq
       |  FROM census GROUP BY space
       |)
       |SELECT space, CAST(kc.k AS BIGINT) AS k_lists,
       |       CAST(n_vectors AS BIGINT) AS n_vectors,
       |       CASE WHEN space = 'raw' OR hasw.ok
       |            THEN CAST(max_list_u AS BIGINT) END AS max_list,
       |       CASE WHEN space = 'raw' OR hasw.ok
       |            THEN round(CAST(max_list_u AS DOUBLE)
       |                       * CAST(kc.k AS DOUBLE)
       |                       / CAST(n_vectors AS DOUBLE), 6)
       |       END AS max_ratio,
       |       CASE WHEN space = 'raw' OR hasw.ok
       |            THEN round(CAST(sum_sq AS DOUBLE) * CAST(kc.k AS DOUBLE)
       |                       / (CAST(n_vectors AS DOUBLE)
       |                          * CAST(n_vectors AS DOUBLE)), 6)
       |       END AS imbalance_factor
       |FROM summ, kc, hasw
       |ORDER BY space""".stripMargin

  // ----------------------------------------------------------------
  // q270 — MMR diversified rerank (the RAG serving step between
  // retrieval and the context window: near-duplicate neighbors waste
  // prompt tokens, so the top-k is re-picked for relevance AND
  // novelty)
  // ----------------------------------------------------------------

  /** Candidate pool per query the reranker works over — top-P by
    * relevance. At 100 TB the pool comes from the serving index
    * (q14/q25/q111); its SIZE stays this constant, which is what
    * bounds the group-local greedy below. */
  val RerankPool = 30

  /** q270 — maximal marginal relevance over the top-[[RerankPool]]
    * cosine pool of each query vector: greedily pick k = [[TopK]]
    * results maximizing ½·rel(q,d) − ½·max_{s∈S} sim(d,s) (λ = ½ —
    * exactly representable, so both engines parse the identical
    * constant), ties by neighbor_id. Step 1 has no selected set and
    * is pure relevance, so rank 1 always equals the plain top-1; the
    * running pick score is provably non-increasing (the novelty
    * penalty only grows and the candidate set only shrinks) — both
    * are spec properties.
    *
    * Execution shape: pool construction is q13's audit shape (queries
    * broadcast, ONE candidate scan, per-query WindowGroupLimit), the
    * greedy is genuinely sequential per query (each pick conditions
    * on the previous), so it runs as flatMapGroups over the
    * CONSTANT-bounded pool — preference-ladder rung (d), legitimate
    * exactly because the per-group input is ≤ RerankPool rows by
    * construction, never corpus-sized; pairwise sims are computed
    * lazily inside the group with the SAME single-pass kernel as the
    * cosine expression ([[graft.functions.VectorKernels.cosine]]), so
    * every score matches the oracle bit-for-bit. The twin unrolls the
    * k greedy steps as MATERIALIZED CTEs (the powerChainSql
    * precedent) over one shared pool + pairwise-sim prefix. */
  def mmrRerank(spark: SparkSession, sfDir: String): DataFrame =
    mmrRerankOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Pure greedy MMR over ONE query's pool — the group-local kernel
    * of q270, extracted so PropertySpec can pin it against an
    * independent reference on arbitrary inputs. `cand` is
    * (neighbor_id, rel, vector) sorted by (rel DESC, id ASC); returns
    * (step, neighbor_id, score). The novelty term is the HONEST
    * signed max over the selected set — cosines are signed, so
    * flooring at 0 would understate the penalty for anti-correlated
    * picks (first-draft bug, caught by the oracle: the floor flipped
    * rank 2 on the corpus fixture where the best novel candidate sits
    * at sim ≈ −0.13). Step 1 is pure relevance, computed as 0.5·rel
    * with no subtraction to match the twin's s1 arm exactly.
    *
    * Comparisons are NaN-total (round-10 advisor): a zero vector in
    * the pool makes its cosine — and hence its MMR score — NaN, and
    * primitive `>` would let such a candidate win or lose a step by
    * SCAN ORDER (NaN compares false both ways) while never updating
    * `maxSim`. Both engines rank NaN above +∞ (Spark sorts and DuckDB
    * ORDER BY/MAX agree), so the kernel uses `java.lang.Double
    * .compare` with signed zeros normalized (+0.0 ≡ −0.0, matching
    * SQL equality) for both the argmax and the running pairwise max —
    * a NaN-scored candidate wins deterministically with the id
    * tie-break, exactly as in the twin. PropertySpec pins this with
    * zero vectors planted in the random pools. */
  private[graft] def mmrGreedy(cand: Array[(Long, Double, Array[Double])],
      k: Int): Seq[(Long, Long, Double)] = {
    // NaN-total, signed-zero-normalized ordering: >0 iff a ranks above b.
    def cmp(a: Double, b: Double): Int =
      java.lang.Double.compare(a + 0.0, b + 0.0)
    val n = cand.length
    val taken = Array.fill(n)(false)
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val out = Seq.newBuilder[(Long, Long, Double)]
    var step = 1
    var selected = 0
    while (step <= k && selected < n) {
      var best = -1
      var bestScore = 0.0
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          val s =
            if (selected == 0) 0.5 * cand(i)._2
            else 0.5 * cand(i)._2 - 0.5 * maxSim(i)
          val c = if (best < 0) 1 else cmp(s, bestScore)
          if (c > 0 || (c == 0 && cand(i)._1 < cand(best)._1)) {
            best = i; bestScore = s
          }
        }
        i += 1
      }
      taken(best) = true
      selected += 1
      out += ((step.toLong, cand(best)._1, bestScore))
      var j = 0
      while (j < n) {
        if (!taken(j)) {
          val sim = graft.functions.VectorKernels
            .cosine(cand(j)._3, cand(best)._3)
          if (cmp(sim, maxSim(j)) > 0) maxSim(j) = sim
        }
        j += 1
      }
      step += 1
    }
    out.result()
  }

  /** Core over an injectable embeddings frame (specs plant topic
    * clusters and assert the rerank diversifies where plain top-k
    * drowns in near-duplicates). */
  /** The q270 EXACT candidate pool — per query the top-[[RerankPool]]
    * by (cosine DESC, id) over the whole corpus; `e` is (vec_id, v).
    * Shared with q275's exact arm so both audit the identical pool. */
  private def exactRerankPool(e: DataFrame): DataFrame = {
    val qs = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("rel"), col("v"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("neighbor_id"))))
      .filter(col("rk") <= RerankPool)
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("v"))
  }

  /** Group-local MMR greedy over ANY (query_id, neighbor_id, rel, v)
    * pool — (query_id, rk, neighbor_id, score_raw). The flatMapGroups
    * is legitimate exactly because every supported pool is
    * ≤ [[RerankPool]] rows per query by construction. */
  private def mmrPicks(pool: DataFrame): DataFrame = {
    import pool.sparkSession.implicits._
    pool.as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Seq[Double])]) =>
        // deterministic regardless of iterator order: the pool is
        // re-sorted by (rel DESC, id) before the greedy runs
        val cand = it.toArray.sortBy(c => (-c._3, c._2))
          .map(c => (c._2, c._3, c._4.toArray))
        mmrGreedy(cand, TopK).map { case (step, id, score) =>
          (qid, step, id, score)
        }
      }
      .toDF("query_id", "rk", "neighbor_id", "score_raw")
  }

  def mmrRerankOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    val e = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    mmrPicks(exactRerankPool(e))
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("score_raw"), 6).as("mmr_score"))
      .orderBy("query_id", "rk")
  }

  /** q270 twin: shared pool + pairwise-sim prefix, then the greedy
    * unrolled — one MATERIALIZED CTE per pick (argmax via
    * row_number with the neighbor_id tie-break, novelty as MAX(sim)
    * against the running selected set). The running sel$t state CTEs
    * are MATERIALIZED too (round-10 advisor): each is referenced
    * three times per step (greedy join, NOT EXISTS, next union), so
    * an inlining planner would expand them ~3^TopK times — the exact
    * exponential cliff the q259/q264 doctrine materializes against.
    * The CTE body is shared with the q271 tradeoff audit so both
    * measure the SAME picks. */
  /** The unrolled greedy over pool CTE `$pool`, state names prefixed
    * `$pfx` (psim$pfx, s$pfx$t, sel$pfx$t) — q270 instantiates it with
    * pfx "" over the exact pool; q275 adds a second chain over the
    * ANN pool. */
  private def mmrChainCtesSql(pfx: String, pool: String): String = {
    val steps = (2 to TopK).map { t =>
      s"""s$pfx$t AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, score FROM (
         |    SELECT p.query_id, p.neighbor_id,
         |           0.5::DOUBLE * p.rel - 0.5::DOUBLE * ms.m AS score,
         |           row_number() OVER (PARTITION BY p.query_id
         |             ORDER BY 0.5::DOUBLE * p.rel - 0.5::DOUBLE * ms.m
         |               DESC, p.neighbor_id) AS rn
         |    FROM $pool p
         |    JOIN (SELECT ps.query_id, ps.ca AS neighbor_id,
         |                 MAX(ps.sim) AS m
         |          FROM psim$pfx ps
         |          JOIN sel$pfx${t - 1} s ON s.query_id = ps.query_id
         |                            AND s.neighbor_id = ps.cb
         |          GROUP BY 1, 2) ms
         |      ON ms.query_id = p.query_id
         |     AND ms.neighbor_id = p.neighbor_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel$pfx${t - 1} s
         |                      WHERE s.query_id = p.query_id
         |                        AND s.neighbor_id = p.neighbor_id))
         |  WHERE rn = 1
         |), sel$pfx$t AS MATERIALIZED (
         |  SELECT * FROM sel$pfx${t - 1}
         |  UNION ALL SELECT query_id, neighbor_id FROM s$pfx$t
         |)""".stripMargin
    }.mkString(",\n")
    s"""psim$pfx AS MATERIALIZED (
       |  SELECT a.query_id, a.neighbor_id AS ca, b.neighbor_id AS cb,
       |         list_cosine_similarity(a.v, b.v) AS sim
       |  FROM $pool a JOIN $pool b ON a.query_id = b.query_id
       |                         AND a.neighbor_id != b.neighbor_id
       |), s${pfx}1 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, 0.5::DOUBLE * rel AS score FROM (
       |    SELECT query_id, neighbor_id, rel,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY rel DESC, neighbor_id) AS rn
       |    FROM $pool) WHERE rn = 1
       |), sel${pfx}1 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM s${pfx}1
       |),
       |$steps""".stripMargin
  }

  /** The q270 exact pool CTE (over the `e` corpus CTE). */
  private val exactPoolCteSql: String =
    s"""pool AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rel, v FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           list_cosine_similarity(q.v, c.v) AS rel, c.v AS v,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(q.v, c.v) DESC,
       |               c.vec_id) AS rn
       |    FROM e q JOIN e c ON c.vec_id != q.vec_id
       |    WHERE q.vec_id < $NQueries)
       |  WHERE rn <= $RerankPool
       |)""".stripMargin

  private val mmrCtesSql: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$exactPoolCteSql,
       |${mmrChainCtesSql("", "pool")}""".stripMargin

  private val mmrUnionSql: String = (1 to TopK).map(t =>
    s"SELECT query_id, CAST($t AS BIGINT) AS rk, neighbor_id, " +
      s"score FROM s$t").mkString("\nUNION ALL\n")

  val mmrRerankSql: String =
    s"""WITH $mmrCtesSql
       |SELECT query_id, rk, neighbor_id, round(score, 6) AS mmr_score
       |FROM ($mmrUnionSql)
       |ORDER BY query_id, rk""".stripMargin

  // ----------------------------------------------------------------
  // q271 — rerank tradeoff audit (what does q270 BUY and COST? the
  // q266/q268 measure-the-payoff discipline applied to the rerank)
  // ----------------------------------------------------------------

  /** q271 — per query, the relevance/diversity tradeoff of the q270
    * rerank against plain top-k, with label agreement as the
    * relevance proxy (q57's convention): how many of the k picks
    * share the query's label, and how many distinct labels the picks
    * cover, for BOTH rankings. All four measures are integers — the
    * oracle comparison is exact. The audit measures the SHIPPED
    * operators: Scala reuses [[mmrRerankOn]] and the same pool; the
    * twin interpolates q270's entire CTE body, so both engines audit
    * the identical picks.
    *
    * Scale shape: q270's (bounded pool + group-local greedy) plus two
    * |queries|·k-row label joins (the corpus-sided label lookup is an
    * UNHINTED equi-join on vec_id — AQE broadcasts it small, shuffles
    * on the id at scale) and two k-bounded aggregates. */
  def rerankTradeoff(spark: SparkSession, sfDir: String): DataFrame =
    rerankTradeoffOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame (specs plant labeled
    * topic clusters and assert the tradeoff is visible: same-label
    * count drops, label coverage rises). */
  def rerankTradeoffOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    val labels = embs.select(col("vec_id"), col("label").cast("long").as("lbl"))
    val qlab = labels.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("lbl").as("qlbl"))
    val e = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val qs = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val plain = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("rel"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("neighbor_id"))))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("neighbor_id"))
    val mmr = mmrRerankOn(spark, embs)
      .select(col("query_id"), col("neighbor_id"))
    def audit(picks: DataFrame, tag: String): DataFrame = picks
      .join(labels.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("lbl", "nlbl"), Seq("neighbor_id"))
      .join(broadcast(qlab), Seq("query_id"))
      .groupBy(col("query_id"), col("qlbl"))
      .agg(sum(when(col("nlbl") === col("qlbl"), 1L).otherwise(0L))
        .as(s"${tag}_same_label"),
        countDistinct(col("nlbl")).as(s"${tag}_labels"))
    audit(plain, "plain")
      .join(audit(mmr, "mmr").drop("qlbl"), Seq("query_id"))
      .select(col("query_id"), col("qlbl").as("label"),
        col("plain_same_label"), col("plain_labels"),
        col("mmr_same_label"), col("mmr_labels"))
      .orderBy("query_id")
  }

  /** q271 twin: q270's full CTE body (identical picks by
    * construction), plain top-k from the same pool, label joins, and
    * integer aggregates (SUMs cast — DuckDB widens SUM to HUGEINT). */
  val rerankTradeoffSql: String =
    s"""WITH $mmrCtesSql,
       |mmrp AS (
       |  SELECT query_id, neighbor_id FROM ($mmrUnionSql)
       |), plainp AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY rel DESC, neighbor_id) AS rn
       |    FROM pool) WHERE rn <= $TopK
       |), lab AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings
       |), qlab AS (
       |  SELECT vec_id AS query_id, lbl AS qlbl FROM lab
       |  WHERE vec_id < $NQueries
       |), pa AS (
       |  SELECT p.query_id, ql.qlbl,
       |         SUM(CASE WHEN l.lbl = ql.qlbl THEN 1 ELSE 0 END)
       |           AS plain_same_label,
       |         COUNT(DISTINCT l.lbl) AS plain_labels
       |  FROM plainp p
       |  JOIN lab l ON l.vec_id = p.neighbor_id
       |  JOIN qlab ql ON ql.query_id = p.query_id
       |  GROUP BY 1, 2
       |), ma AS (
       |  SELECT p.query_id,
       |         SUM(CASE WHEN l.lbl = ql.qlbl THEN 1 ELSE 0 END)
       |           AS mmr_same_label,
       |         COUNT(DISTINCT l.lbl) AS mmr_labels
       |  FROM mmrp p
       |  JOIN lab l ON l.vec_id = p.neighbor_id
       |  JOIN qlab ql ON ql.query_id = p.query_id
       |  GROUP BY 1
       |)
       |SELECT CAST(pa.query_id AS BIGINT) AS query_id, pa.qlbl AS label,
       |       CAST(pa.plain_same_label AS BIGINT) AS plain_same_label,
       |       CAST(pa.plain_labels AS BIGINT) AS plain_labels,
       |       CAST(ma.mmr_same_label AS BIGINT) AS mmr_same_label,
       |       CAST(ma.mmr_labels AS BIGINT) AS mmr_labels
       |FROM pa JOIN ma ON ma.query_id = pa.query_id
       |ORDER BY query_id""".stripMargin

  // ----------------------------------------------------------------
  // q272 — whitened-IVF serving audit (q269 shows whitening flattens
  // the lists; this prices the OTHER side of that decision — at a
  // fixed probe budget, what recall does each index serve, and how
  // many rows does each query actually scan?)
  // ----------------------------------------------------------------

  /** q272 — IVF recall-vs-scan tradeoff, raw vs whitened: per query
    * and space, an IVF index built with the shared codebook protocol
    * (q269's) is probed with the fixed [[NProbe]] budget (q25's), and
    * the audit reports scanned_rows (the integer latency proxy: how
    * many candidate rows the probe touched), hits (probed top-k ∩ the
    * SAME space's exact float top-k — the q268 per-space discipline),
    * and their exact recall ratio. A herded index (q269's anisotropic
    * failure) hides most of the corpus behind the hot lists: whatever
    * recall it serves, it pays for in scanned rows; the whitened
    * index spreads the same probe budget over flatter lists. This is
    * the measurement that closes the "index the whitened copy?"
    * decision: q268 prices quantization, q269 prices balance, q272
    * prices the probe budget.
    *
    * Exactness: scanned/gt_k/hits are integers, recall is their
    * ratio; ranking ties break by neighbor_id everywhere (the q13
    * discipline). Scale shape: per space, ONE corpus scan for the
    * broadcast-codebook argmax (q25's map-side assignment), the
    * NQueries-bounded scoring broadcast, a 24-row probe-set left
    * join, two per-query windows, one 8-group aggregate. Brute-force
    * exact GT makes it audit-class: fixture-sized holdouts at 100 TB
    * (q81/q253/q268 precedent) while production serves q25/q111. */
  def whitenIvf(spark: SparkSession, sfDir: String): DataFrame =
    whitenIvfOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame. */
  def whitenIvfOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    val (wv, degenerate) = whitenedArrayCol(spark, embs)
    val base = embs
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        transform(col("embedding"),
          e => round(e.cast("double") * CovScale).cast("long")).as("qv"))
      .select(col("vec_id"), col("v"), wv.as("wv"))
    // batched training (guide §1.2): both spaces' IVF codebooks train
    // as ONE tagged-union job per phase (seed + Lloyd stats) — 2
    // driver round-trips instead of 4, identical per-space folds
    val spaces: Seq[(String, String)] =
      ("raw" -> "v") +: (if (!degenerate) Seq("white" -> "wv") else Nil)
    val eBy = spaces.map { case (tag, vcol) =>
      tag -> base.select(col("vec_id"), col(vcol).as("x")) }.toMap
    val cbs = ivfCodebooks(spaces.map { case (tag, _) => tag -> eBy(tag) })
    def spaceAudit(tag: String): DataFrame = {
      val e = eBy(tag)
      val cents = cbs(tag)
      def scores(c: Column): Column = ivfScores(cents, c)
      val assigned = e.withColumn("cid", ivfAssign(cents.toSeq, col("x")))
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("x").as("qx"))
      val probes = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"),
          explode(transform(
            slice(sort_array(scores(col("x")), asc = false), 1, NProbe),
            s => -s("ncid"))).as("pcid"))
      val scored = assigned
        .select(col("vec_id").as("neighbor_id"), col("x").as("cx"),
          col("cid"))
        .join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("cid"),
          cosine(col("qx"), col("cx")).as("cos"))
        .join(broadcast(probes
            .withColumnRenamed("query_id", "p_qid")),
          col("query_id") === col("p_qid") &&
            col("cid") === col("pcid"), "left_outer")
        .drop("p_qid")
        .withColumn("probed", col("pcid").isNotNull)
      val k = TopK.toLong
      val ranked = scored
        .withColumn("r_ex", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
        .withColumn("r_pv", row_number().over(
          Window.partitionBy(col("query_id"), col("probed"))
            .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      ranked.groupBy("query_id").agg(
          sum(when(col("probed"), 1L).otherwise(0L)).as("scanned_rows"),
          sum(when(col("r_ex") <= k, 1L).otherwise(0L)).as("gt_k"),
          sum(when(col("probed") && col("r_pv") <= k && col("r_ex") <= k,
            1L).otherwise(0L)).as("hits"))
        .select(lit(tag).as("space"), col("query_id"), col("scanned_rows"),
          col("gt_k"), col("hits"),
          round(col("hits").cast("double") / col("gt_k").cast("double"), 6)
            .as("recall"))
    }
    val raw = spaceAudit("raw")
    val white =
      if (!degenerate) spaceAudit("white")
      else base.filter(col("vec_id") < NQueries)
        .select(lit("white").as("space"), col("vec_id").as("query_id"),
          lit(null).cast("long").as("scanned_rows"),
          lit(null).cast("long").as("gt_k"),
          lit(null).cast("long").as("hits"),
          lit(null).cast("double").as("recall"))
    raw.unionByName(white).orderBy("space", "query_id")
  }

  /** q272 twin: the shared q264 prefix + `wh` list, then the same
    * assignment/probe/score/rank pipeline instantiated per space over
    * one `base`, masked like the Scala face when the model retains
    * nothing. */
  val whitenIvfSql: String = {
    def spaceCtes(s: String, x: String): String =
      s"""${ivfCentCtes(s"cent$s", "base", x)},
         |asg$s AS (
         |  SELECT vec_id, x, cid FROM (
         |    SELECT b.vec_id, b.$x AS x, c.cid,
         |           row_number() OVER (PARTITION BY b.vec_id
         |             ORDER BY list_cosine_similarity(b.$x, c.cv) DESC,
         |               c.cid) AS rn
         |    FROM base b, cent$s c) WHERE rn = 1
         |), prob$s AS (
         |  SELECT vec_id AS query_id, cid AS pcid FROM (
         |    SELECT b.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY b.vec_id
         |             ORDER BY list_cosine_similarity(b.$x, c.cv) DESC,
         |               c.cid) AS rn
         |    FROM base b, cent$s c WHERE b.vec_id < $NQueries)
         |  WHERE rn <= $NProbe
         |), fl$s AS (
         |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |         list_cosine_similarity(q.$x, a.x) AS cos,
         |         (p.pcid IS NOT NULL) AS probed
         |  FROM asg$s a
         |  JOIN base q ON q.vec_id < $NQueries AND a.vec_id != q.vec_id
         |  LEFT JOIN prob$s p ON p.query_id = q.vec_id AND p.pcid = a.cid
         |), rk$s AS (
         |  SELECT query_id, probed,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos DESC, neighbor_id) AS r_ex,
         |         row_number() OVER (PARTITION BY query_id, probed
         |           ORDER BY cos DESC, neighbor_id) AS r_pv
         |  FROM fl$s
         |), ag$s AS (
         |  SELECT query_id,
         |         SUM(CASE WHEN probed THEN 1 ELSE 0 END) AS scanned_rows,
         |         SUM(CASE WHEN r_ex <= $TopK THEN 1 ELSE 0 END) AS gt_k,
         |         SUM(CASE WHEN probed AND r_pv <= $TopK AND r_ex <= $TopK
         |                  THEN 1 ELSE 0 END) AS hits
         |  FROM rk$s GROUP BY 1
         |)""".stripMargin
    s"""WITH $whitenCtesSql,
       |${whitenedListCteSql("wvr")}, hasw AS (
       |  SELECT COALESCE(SUM(CASE WHEN len(wvr) > 0 THEN 1 ELSE 0 END), 0)
       |           > 0 AS ok
       |  FROM wh
       |), base AS (
       |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
       |         CASE WHEN len(wh.wvr) > 0 THEN wh.wvr ELSE [0.0] END AS wv
       |  FROM embeddings e JOIN wh ON wh.vec_id = e.vec_id
       |),
       |${spaceCtes("r", "v")},
       |${spaceCtes("w", "wv")}
       |SELECT 'raw' AS space, CAST(query_id AS BIGINT) AS query_id,
       |       CAST(scanned_rows AS BIGINT) AS scanned_rows,
       |       CAST(gt_k AS BIGINT) AS gt_k, CAST(hits AS BIGINT) AS hits,
       |       round(CAST(hits AS DOUBLE) / CAST(gt_k AS DOUBLE), 6)
       |         AS recall
       |FROM agr
       |UNION ALL
       |SELECT 'white' AS space, CAST(a.query_id AS BIGINT) AS query_id,
       |       CASE WHEN hasw.ok
       |            THEN CAST(a.scanned_rows AS BIGINT) END AS scanned_rows,
       |       CASE WHEN hasw.ok THEN CAST(a.gt_k AS BIGINT) END AS gt_k,
       |       CASE WHEN hasw.ok THEN CAST(a.hits AS BIGINT) END AS hits,
       |       CASE WHEN hasw.ok
       |            THEN round(CAST(a.hits AS DOUBLE)
       |                       / CAST(a.gt_k AS DOUBLE), 6) END AS recall
       |FROM agw a, hasw
       |ORDER BY space, query_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // q273 — composed IVF-PQ serving index, raw vs whitened: EXECUTES
  // the decision q266/q268/q269/q272 priced. q25's IVF and q111's PQ
  // each serve alone; this composes them — coarse quantizer routes
  // the probe, PQ residual codes compress the lists, ADC scores at
  // the fixed probe budget — over BOTH representations, judged by
  // the same exact-GT protocol as q272 so the composed numbers land
  // beside the single-tier ones.
  // ----------------------------------------------------------------

  /** PQ geometry for the whitened space: the top-[[WhitenK]] (=8)
    * whitened coords split into 2 subspaces of 4 dims. 1-dim
    * subspaces would degenerate the cosine-metric Lloyd kernel
    * (cosine in 1-D is sign-only), and 8×1 would spend 8 codes on an
    * 8-dim vector; 2×4 keeps the q111 kernel geometrically meaningful
    * and makes the whitened codes 4× smaller than the raw ones
    * (2 vs 8 codes/vector) — the memory dividend of indexing the
    * dim-reduced copy. */
  val PqMWhite = 2
  private[ext] val PqSubWhite = WhitenK / PqMWhite

  /** Nearest sub-codeword by SQUARED L2 (ascending, ties to the
    * smallest cid) — the residual-PQ metric. Cosine (q111's whole-
    * vector metric) is undefined on the zero vector, and residuals
    * contain exact zeros BY CONSTRUCTION (every IVF centroid's own
    * residual): the first draft trained residual books with cosine
    * and the NaN ordering diverged between engines (Spark ranks NaN
    * greatest, DuckDB orders the NULL-ish result last) — every code
    * wrong. Squared L2 is total on all finite inputs, matches the
    * IVFADC formulation (Jégou et al.), and the in-order fold is
    * bit-equal across engines. */
  private[ext] def nearestL2(v: Column, code: Seq[(Long, Seq[Double])]): Column =
    sort_array(array(code.map { case (cid, cv) =>
      struct(sqDist(v, typedlit(cv)).as("d"), lit(cid).as("cid"))
    }: _*), asc = true)(0)("cid")

  /** Batched residual-PQ book trainer over tagged (vec_id, rv) frames:
    * per tag the EXACT q273/q276 fold — literal seeds from the first
    * [[PqK]] residuals, then per Lloyd round one nearest-L2 assignment
    * + integer-grid mean per (subspace, code, dim) — but the seed
    * collect and each round's stats collect cover ALL tags as ONE
    * tagged-union Spark job, so a two-space/two-arm query pays 2
    * driver round-trips instead of 4 and the per-tag stages run
    * concurrently inside one job (guide §1.2 / §2.6). Per-tag values
    * are bit-identical to the sequential trainer: every group key
    * carries its tag and the grid sums are order-free BIGINT folds.
    * The one Scala residual-PQ Lloyd loop: q273 (raw + whitened
    * spaces), q276/q283 (frozen + rebuilt arms) and, with one tag, the
    * q277/q280 index-artifact generation builds (`IndexArtifact.build`)
    * all train here. */
  private[ext] def pqBooksBatch(
      arms: Seq[(String, DataFrame, Int, Int)])
      : Map[String, Seq[Seq[(Long, Seq[Double])]]] = {
    val seedRows = arms.map { case (tag, tr, _, _) =>
      tr.filter(col("vec_id") < PqK)
        .select(lit(tag).as("tag"), col("vec_id"), col("rv"))
    }.reduce(_ unionAll _).collect()
    val seedsBy = arms.map { case (tag, _, _, _) =>
      tag -> seedRows.filter(_.getString(0) == tag)
        .map(r => r.getLong(1) -> r.getSeq[Double](2))
        .sortBy(_._1).toSeq
    }.toMap
    var booksBy: Map[String, Seq[Seq[(Long, Seq[Double])]]] =
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
        // sort allocations — bit-equal to the struct-sort nearestL2,
        // measured 2.3× on this stats job); the sv slice stays for the
        // posexplode payload only
        val subs = (0 until m).map { s =>
          struct(lit(s).as("s"),
            graft.functions.NearestL2Code.nearest_l2_code(
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

  /** q273 — IVF-PQ recall-vs-scan audit, raw vs whitened: per query
    * and space, an IVF index (q25/q269's trained fixed-K codebook)
    * whose lists hold PQ RESIDUAL codes (q111's one-Lloyd-job
    * discipline, trained on x − centroid[cid]) is probed at the fixed
    * [[NProbe]] budget and ranked by ADC: dot(q, centroid) +
    * Σ_s dot(q_s, book_s[code_s]) — exact coarse term plus the
    * compressed residual term, the classic IVFADC decomposition
    * (Jégou et al., PAMI 2011). Columns are q272's exactly
    * (scanned_rows / gt_k / hits / recall, GT = the SAME space's
    * exact float top-k), so the composed index's numbers are directly
    * comparable with q272's exact-scoring ones: q272 isolates the
    * probe budget, q273 adds what PQ compression costs ON that
    * budget in each geometry.
    *
    * Exactness: corpus normalized by the in-order self-dot norm
    * (q111), codebooks derive from literal-seed Lloyd rounds both
    * engines run identically, the ADC terms add in fixed
    * coarse-then-subspace order (left-associated both sides), ties
    * break by neighbor_id everywhere. Ranking knife-edges would need
    * two approx scores within ~1e-12 — the q111 acceptance.
    *
    * Scale shape: ONE Gram fold for the whitening model, one
    * localCheckpoint of the (raw, whitened) normalized corpus (at
    * 100 TB the TRAINING side reads a sample — q111's argument; the
    * serving passes below it are each one corpus scan), per space
    * one fixed-[[IvfK]] coarse training (K·Dim-bounded collects +
    * M·[[PqK]] sub-codewords), one combined Lloyd-stats job, then the
    * q272 audit shape: one scan for assignment+encode,
    * the NQueries-bounded scoring broadcast, a 24-row probe join,
    * two per-query windows. Exact-GT arm documented audit-class:
    * fixture-sized holdouts at 100 TB (q81/q253/q268/q272 precedent)
    * while production serves the index itself. */
  def ivfPq(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame (specs plant the q269
    * herded anisotropy and assert the whitened composed index serves
    * better recall from fewer scanned rows). */
  def ivfPqOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    val (mu, comps, trace) = whitenModel(spark, embs)
    val retained = comps.flatMap { case (v, lambda) =>
      whitenCompCol(mu, v, lambda, trace)
    }
    val degenerate = retained.isEmpty
    // pad to fixed WhitenK width with exact zeros: zero coords are
    // inert under dot/norm, and a FIXED width is what lets both
    // engines slice PQ subspaces positionally
    val wv = array(retained ++
      Seq.fill(WhitenK - retained.size)(lit(0.0)): _*)
    // one materialization of the (raw, whitened) normalized corpus:
    // the whitening projection and both norms compute once, and the
    // training passes below re-read instead of re-deriving (q111's
    // checkpoint discipline; zero-norm rows stay NULL in that space)
    val base = embs
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        transform(col("embedding"),
          e => round(e.cast("double") * CovScale).cast("long")).as("qv"))
      .select(col("vec_id"), col("v"), wv.as("wv"))
      .select(col("vec_id"), col("v"), col("wv"),
        normN(col("v")).as("nr"), normN(col("wv")).as("nw"))
      .select(col("vec_id"),
        when(col("nr") > 0,
          transform(col("v"), x => x / col("nr"))).as("vn"),
        when(col("nw") > 0,
          transform(col("wv"), x => x / col("nw"))).as("wn"))
      .localCheckpoint()

    // batched training (guide §1.2): the spaces are independent, so
    // their IVF codebooks train as ONE tagged-union job per phase
    // (seed + Lloyd stats) and their PQ books likewise (seed + stats)
    // — 4 driver round-trips for both spaces instead of 8, identical
    // per-space folds and values
    val spaces: Seq[(String, String, Int, Int)] =
      ("raw", "vn", PqM, PqSub) +:
        (if (!degenerate) Seq(("white", "wn", PqMWhite, PqSubWhite))
         else Nil)
    val eBy = spaces.map { case (tag, xcol, _, _) =>
      tag -> base.filter(col(xcol).isNotNull)
        .select(col("vec_id"), col(xcol).as("x"))
    }.toMap
    val cbs = ivfCodebooks(spaces.map { case (tag, _, _, _) =>
      tag -> eBy(tag) })
    // PQ residual training: literal seeds (first PqK residuals), then
    // ONE Lloyd-stats job covering every subspace AND space (q111).
    // Trainer collects read the NARROW corpus (the fan-out exchange
    // costs more than their single-task compute at fixture scale);
    // the audit-side encode/scoring reads the WIDENED corpus so the
    // big map stage (corpus × queries, cosine + ADC + windows) runs
    // on every core.
    val booksBy = pqBooksBatch(spaces.map { case (tag, _, m, sub) =>
      (tag, residuals(cbs(tag), eBy(tag)), m, sub) })

    def spaceAudit(tag: String, m: Int, sub: Int): DataFrame = {
      val e = eBy(tag)
      val cents = cbs(tag)
      val centMap = typedlit(cents.toMap)
      def scores(c: Column): Column = ivfScores(cents, c)
      val books = booksBy(tag)
      // fused encode: the residual (x − centroid[cid]) subtracts INSIDE
      // the argmin kernel per subspace window — no zip_with rv
      // materialization, no slice/struct-sort per row; bit-equal to the
      // residuals + nearestL2∘slice chain it replaces (same two
      // subtractions in the same order — NearestL2Code doc)
      val codes = (0 until m).map { s =>
        graft.functions.NearestL2Code.nearest_l2_code_residual(
          col("x"), element_at(centMap, col("cid")), s * sub, books(s))
          .as(s"c$s")
      }
      val enc = widen(e)
        .withColumn("cid", ivfAssign(cents.toSeq, col("x")))
        .select(
          Seq(col("vec_id").as("neighbor_id"), col("x").as("cx"),
            col("cid")) ++ codes: _*)
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("x").as("qx"))
      val probes = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"),
          explode(transform(
            slice(sort_array(scores(col("x")), asc = false), 1, NProbe),
            s => -s("ncid"))).as("pcid"))
      // ADC: exact coarse term + M compressed residual terms, added
      // coarse-first then ascending subspace (left-assoc both engines);
      // native dot kernel = same ascending fold, whole-stage codegen'd
      val adcTerms =
        graft.functions.DotProduct.dot_product(
          col("qx"), element_at(centMap, col("cid"))) +:
        (0 until m).map { s =>
          // offset-dot kernel: no per-(pair × subspace) slice
          // allocation on the scoring scan (same fold, bit-equal)
          graft.functions.DotProductOffset.dot_product_off(
            col("qx"), s * sub,
            element_at(typedlit(books(s).toMap), col(s"c$s")))
        }
      val k = TopK.toLong
      val scored = enc
        .join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("cid"),
          cosine(col("qx"), col("cx")).as("cos"),
          adcTerms.reduceLeft(_ + _).as("adc"))
        .join(broadcast(probes.withColumnRenamed("query_id", "p_qid")),
          col("query_id") === col("p_qid") && col("cid") === col("pcid"),
          "left_outer")
        .drop("p_qid")
        .withColumn("probed", col("pcid").isNotNull)
      val ranked = scored
        .withColumn("r_ex", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
        .withColumn("r_adc", row_number().over(
          Window.partitionBy(col("query_id"), col("probed"))
            .orderBy(col("adc").desc, col("neighbor_id"))).cast("long"))
      ranked.groupBy("query_id").agg(
          sum(when(col("probed"), 1L).otherwise(0L)).as("scanned_rows"),
          sum(when(col("r_ex") <= k, 1L).otherwise(0L)).as("gt_k"),
          sum(when(col("probed") && col("r_adc") <= k && col("r_ex") <= k,
            1L).otherwise(0L)).as("hits"))
        .select(lit(tag).as("space"), col("query_id"), col("scanned_rows"),
          col("gt_k"), col("hits"),
          round(col("hits").cast("double") / col("gt_k").cast("double"), 6)
            .as("recall"))
    }
    val raw = spaceAudit("raw", PqM, PqSub)
    val white =
      if (!degenerate) spaceAudit("white", PqMWhite, PqSubWhite)
      else embs.filter(col("vec_id") < NQueries)
        .select(lit("white").as("space"), col("vec_id").as("query_id"),
          lit(null).cast("long").as("scanned_rows"),
          lit(null).cast("long").as("gt_k"),
          lit(null).cast("long").as("hits"),
          lit(null).cast("double").as("recall"))
    raw.unionByName(white).orderBy("space", "query_id")
  }

  /** q273 twin: the shared q264 prefix, the zero-padded whitened
    * list, one normalized `base`, then per space the IVF
    * assignment/residual/PQ-train/encode/probe/ADC pipeline with
    * every multiply-referenced state MATERIALIZED. The degenerate
    * arm mirrors the Scala face: when no component is retained the
    * white corpus empties (all-zero padded vectors fail the norm
    * filter), so the white rows come from the query list with every
    * metric NULL. */
  val ivfPqSql: String = {
    require(PqRounds == 1,
      "ivfPqSql unrolls exactly one PQ Lloyd round; regenerate the " +
        "per-subspace CTE chain before bumping PqRounds")
    def spaceCtes(sp: String, xc: String, d: Int, m: Int, sub: Int)
        : String = {
      def lo(s: Int) = s * sub + 1
      def hi(s: Int) = (s + 1) * sub
      // residual-PQ assignment metric: squared L2 ascending (in-order
      // fold — bit-equal to the Scala sqDist), ties to the smallest
      // cid; cosine is undefined on the exact-zero residuals every
      // IVF centroid produces (see nearestL2)
      def sqd(a: String, b: String) =
        s"""list_sum(list_transform(range($sub),
           |               j -> ($a[j + 1] - $b[j + 1])
           |                    * ($a[j + 1] - $b[j + 1])))""".stripMargin
      val perSub = (0 until m).map { s =>
        s"""pc$sp${s}_0 AS (
           |  SELECT vec_id AS cid, rv[${lo(s)}:${hi(s)}] AS cv
           |  FROM rs$sp WHERE vec_id < $PqK
           |), pa$sp${s}_1 AS MATERIALIZED (
           |  SELECT vec_id, sv, cid FROM (
           |    SELECT r.vec_id, r.rv[${lo(s)}:${hi(s)}] AS sv, c.cid,
           |           row_number() OVER (PARTITION BY r.vec_id
           |             ORDER BY ${sqd(s"r.rv[${lo(s)}:${hi(s)}]", "c.cv")}
           |               ASC, c.cid) AS rn
           |    FROM rs$sp r, pc$sp${s}_0 c) WHERE rn = 1
           |), pc$sp${s}_1 AS MATERIALIZED (
           |  SELECT cid, list(mn ORDER BY i) AS cv FROM (
           |    SELECT cid, i,
           |           CAST(CAST(SUM(CAST(round(sv[i] * $PqGrid) AS BIGINT))
           |                     AS BIGINT) AS DOUBLE)
           |           / (CAST(COUNT(*) AS DOUBLE) * $PqGrid) AS mn
           |    FROM pa$sp${s}_1, (SELECT unnest(generate_series(1, $sub)) AS i)
           |    GROUP BY cid, i)
           |  GROUP BY cid
           |), pcode$sp$s AS MATERIALIZED (
           |  SELECT vec_id, cid FROM (
           |    SELECT a.vec_id, c.cid,
           |           row_number() OVER (PARTITION BY a.vec_id
           |             ORDER BY ${sqd("a.sv", "c.cv")} ASC, c.cid) AS rn
           |    FROM pa$sp${s}_1 a, pc$sp${s}_1 c) WHERE rn = 1
           |)""".stripMargin
      }.mkString(",\n")
      val codeJoins = (0 until m)
        .map(s => s"JOIN pcode$sp$s ON pcode$sp$s.vec_id = r.vec_id")
        .mkString(" ")
      val codeCols = (0 until m)
        .map(s => s"pcode$sp$s.cid AS c$s").mkString(", ")
      val termJoins = (0 until m)
        .map(s => s"JOIN pc$sp${s}_1 k$s ON k$s.cid = cd.c$s")
        .mkString(" ")
      val adcSum = (s"list_dot_product(q.qx, c.cv)" +:
        (0 until m).map(s =>
          s"list_dot_product(q.qx[${lo(s)}:${hi(s)}], k$s.cv)"))
        .mkString(" + ")
      s"""en$sp AS MATERIALIZED (
         |  SELECT vec_id, list_transform($xc, e -> e / nrm) AS x FROM (
         |    SELECT vec_id, $xc,
         |           sqrt(list_dot_product($xc, $xc)) AS nrm FROM base)
         |  WHERE nrm > 0
         |),
         |${ivfCentCtes(s"cent$sp", s"en$sp", "x")},
         |rs$sp AS MATERIALIZED (
         |  SELECT a.vec_id, a.x, a.cid,
         |         list_transform(range($d),
         |           i -> a.x[i + 1] - c.cv[i + 1]) AS rv
         |  FROM (
         |    SELECT vec_id, x, cid FROM (
         |      SELECT e.vec_id, e.x, c.cid,
         |             row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY list_cosine_similarity(e.x, c.cv) DESC,
         |                 c.cid) AS rn
         |      FROM en$sp e, cent$sp c) WHERE rn = 1) a
         |  JOIN cent$sp c ON c.cid = a.cid
         |),
         |$perSub,
         |prob$sp AS (
         |  SELECT vec_id AS query_id, cid AS pcid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY list_cosine_similarity(e.x, c.cv) DESC,
         |               c.cid) AS rn
         |    FROM en$sp e, cent$sp c WHERE e.vec_id < $NQueries)
         |  WHERE rn <= $NProbe
         |), fl$sp AS (
         |  SELECT q.query_id, cd.vec_id AS neighbor_id,
         |         list_cosine_similarity(q.qx, cd.x) AS cos,
         |         $adcSum AS adc,
         |         (p.pcid IS NOT NULL) AS probed
         |  FROM (SELECT r.vec_id, r.x, r.cid, $codeCols
         |        FROM rs$sp r $codeJoins) cd
         |  JOIN cent$sp c ON c.cid = cd.cid
         |  JOIN (SELECT vec_id AS query_id, x AS qx FROM en$sp
         |        WHERE vec_id < $NQueries) q
         |    ON cd.vec_id != q.query_id
         |  $termJoins
         |  LEFT JOIN prob$sp p ON p.query_id = q.query_id
         |                     AND p.pcid = cd.cid
         |), rk$sp AS (
         |  SELECT query_id, probed,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos DESC, neighbor_id) AS r_ex,
         |         row_number() OVER (PARTITION BY query_id, probed
         |           ORDER BY adc DESC, neighbor_id) AS r_adc
         |  FROM fl$sp
         |), ag$sp AS (
         |  SELECT query_id,
         |         SUM(CASE WHEN probed THEN 1 ELSE 0 END) AS scanned_rows,
         |         SUM(CASE WHEN r_ex <= $TopK THEN 1 ELSE 0 END) AS gt_k,
         |         SUM(CASE WHEN probed AND r_adc <= $TopK AND r_ex <= $TopK
         |                  THEN 1 ELSE 0 END) AS hits
         |  FROM rk$sp GROUP BY 1
         |)""".stripMargin
    }
    s"""WITH $whitenCtesSql,
       |${whitenedListCteSql("wvr")}, hasw AS (
       |  SELECT COALESCE(SUM(CASE WHEN len(wvr) > 0 THEN 1 ELSE 0 END), 0)
       |           > 0 AS ok
       |  FROM wh
       |), base AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
       |         list_concat(wh.wvr,
       |           list_transform(range($WhitenK - len(wh.wvr)),
       |             z -> 0.0)) AS w
       |  FROM embeddings e JOIN wh ON wh.vec_id = e.vec_id
       |),
       |${spaceCtes("r", "v", Dim, PqM, PqSub)},
       |${spaceCtes("w", "w", WhitenK, PqMWhite, PqSubWhite)}
       |SELECT 'raw' AS space, CAST(query_id AS BIGINT) AS query_id,
       |       CAST(scanned_rows AS BIGINT) AS scanned_rows,
       |       CAST(gt_k AS BIGINT) AS gt_k, CAST(hits AS BIGINT) AS hits,
       |       round(CAST(hits AS DOUBLE) / CAST(gt_k AS DOUBLE), 6)
       |         AS recall
       |FROM agr
       |UNION ALL
       |SELECT 'white' AS space, CAST(q.vec_id AS BIGINT) AS query_id,
       |       CASE WHEN hasw.ok
       |            THEN CAST(a.scanned_rows AS BIGINT) END AS scanned_rows,
       |       CASE WHEN hasw.ok THEN CAST(a.gt_k AS BIGINT) END AS gt_k,
       |       CASE WHEN hasw.ok THEN CAST(a.hits AS BIGINT) END AS hits,
       |       CASE WHEN hasw.ok
       |            THEN round(CAST(a.hits AS DOUBLE)
       |                       / CAST(a.gt_k AS DOUBLE), 6) END AS recall
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id < $NQueries) q
       |CROSS JOIN hasw
       |LEFT JOIN agw a ON a.query_id = q.vec_id
       |WHERE (NOT hasw.ok) OR a.query_id IS NOT NULL
       |ORDER BY space, query_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // q274 — versioned whitening-model refresh (closes the model
  // lifecycle: q267 ALARMS "the rotation is going stale", this
  // EXECUTES the refresh and emits the versioned model table the
  // q264 consumers key on — the q231 incremental-maintenance
  // discipline applied to the whitening model)
  // ----------------------------------------------------------------

  /** Refresh threshold on |cos(current dominant, ACTIVE model's
    * dominant)| — NOT q267's consecutive-snapshot stability: a model
    * consumer cares about drift vs the rotation it is actually
    * serving with, which accumulates across snapshots even when each
    * consecutive step stays above any alarm line. 0.98 ≈ 11° of
    * accumulated rotation. */
  val RefreshStability = 0.98

  /** q274 — versioned rotation refresh: walk the [[DriftBatches]]
    * cumulative snapshots (the SAME one-pass buffers as q265/q267);
    * per snapshot compare the current dominant component against the
    * ACTIVE model version's dominant, and when the staleness gate
    * trips (|cos| < [[RefreshStability]]), re-derive the full
    * whitening model from the cumulative buffer — top-[[WhitenK]]
    * deflated spectrum, q264's exact protocol — and bump the version.
    * Output is the consumer-facing join, one row per (snapshot,
    * component): batch_id, n_vectors_cum, model_version,
    * model_stability (vs the active model BEFORE the decision, NULL
    * at bootstrap), refreshed, and the ACTIVE version's spectrum
    * (k, λ, retained) — so any consumer keyed by version reads the
    * exact model parameters in force at its snapshot. A degenerate
    * current iterate (NaN dot) never refreshes: better a stale model
    * than one derived from a dead spectrum.
    *
    * Scale shape: identical to q265/q267 — ONE typed-aggregator
    * corpus pass, |batches| × ~2 KB collected, then
    * O(|batches|·K·PowerIters·D²) driver arithmetic (~2.4 Mflop).
    * The refresh decision and the re-derivation read the SAME buffer
    * the monitor already holds — executing the refresh costs no
    * additional distributed work, which is the entire point of
    * deriving models from mergeable integer state. */
  def modelRefresh(spark: SparkSession, sfDir: String): DataFrame =
    modelRefreshOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** One q274 step over a cumulative buffer + the active-model state:
    * returns (rows for this snapshot, new active state). The shared
    * kernel of the batch face and the streaming refresh monitor —
    * both faces MUST route through here (the gramSnapshot doctrine).
    * Active state: (version, dominant iterate, spectrum (λ, retained)
    * per k). */
  private[graft] def refreshStep(bid: Long, g: Seq[Long],
      active: Option[(Long, Array[Double], Seq[(Double, Boolean)])])
      : (Seq[(Long, Long, Long, Option[Double], Boolean, Long,
          Option[Double], Boolean)],
         (Long, Array[Double], Seq[(Double, Boolean)])) = {
    val (a, n) = gramToCov(g)
    val trace = covTrace(a)
    val (v, _) = powerIterate(a)
    val stab = active.flatMap { case (_, av, _) =>
      val d = dotV(v, av)
      if (java.lang.Double.isFinite(d)) Some(math.abs(d)) else None
    }
    val refresh = active.isEmpty || stab.exists(_ < RefreshStability)
    val next =
      if (refresh) {
        val spec = deflatedSpectrum(a, WhitenK).map { case (_, l) =>
          (l, retainedComp(l, trace))
        }
        (active.map(_._1).getOrElse(0L) + 1L, v, spec)
      } else active.get
    val rows = next._3.zipWithIndex.map { case ((l, ret), k0) =>
      (bid, n, next._1, stab, refresh, (k0 + 1).toLong,
        if (java.lang.Double.isFinite(l)) Some(l) else None, ret)
    }
    (rows, next)
  }

  /** The q274 output projection over raw step rows — shared by both
    * faces so stream and batch literally share the final frame. */
  private[graft] def refreshRowsDf(spark: SparkSession,
      rows: Seq[(Long, Long, Long, Option[Double], Boolean, Long,
        Option[Double], Boolean)]): DataFrame = {
    import spark.implicits._
    rows.toDF("batch_id", "n_vectors_cum", "model_version", "stab_raw",
        "refreshed", "k", "lambda_raw", "retained")
      .select(col("batch_id"), col("n_vectors_cum"), col("model_version"),
        round(col("stab_raw"), 6).as("model_stability"), col("refreshed"),
        col("k"), round(col("lambda_raw"), 6).as("lambda"),
        col("retained"))
  }

  /** Core over an injectable embeddings frame (specs plant a rotation
    * event mid-stream and assert the refresh fires at exactly its
    * snapshot and post-refresh stability recovers). */
  def modelRefreshOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    var active: Option[(Long, Array[Double], Seq[(Double, Boolean)])] = None
    val rows = cumGramBuffers(spark, embs).flatMap { case (b, g) =>
      val (r, next) = refreshStep(b, g, active)
      active = Some(next)
      r
    }
    refreshRowsDf(spark, rows).orderBy("batch_id", "k")
  }

  /** q274 twin: the q265/q267 cumulative prefix, then the
    * [[DriftBatches]]·[[WhitenK]] deflated power chains as ONE
    * recursive CTE threading (component, iteration) state per batch —
    * the unrolled-chain form (q264's, per batch) exceeds DuckDB's
    * 1000-deep binder limit at ~1700 CTEs, while the recursion is ~35
    * CTEs and executes the IDENTICAL IEEE sequence: y = A·v per index
    * via the same list_dot_product, λ = √(y·y), v' = y/λ, deflation
    * `row − (λ·vᵢ)·vⱼ` left-associated exactly as the Scala deflate.
    * Each recursion row carries its batch's running deflated matrix
    * (64 lists), accumulated λs, and the component-1 dominant; the
    * terminal rows (comp = K+1) feed the dominant lookup and the
    * spectrum table. Version state then threads across snapshots as
    * one MATERIALIZED CTE per batch (active batch + version), and
    * the final per-(snapshot, component) rows join the ACTIVE batch's
    * spectrum and trace. The staleness gate compares the identical
    * doubles in both engines, so the branch flips only exactly AT
    * the threshold (the retainedComp acceptance). */
  val modelRefreshSql: String = {
    val K = WhitenK
    val PI = PowerIters
    val states = (1 until DriftBatches).map { b =>
      val d = s"list_dot_product(db$b.v, da.v)"
      val cond = s"isfinite($d) AND abs($d) < $RefreshStability"
      s"""st$b AS MATERIALIZED (
         |  SELECT CASE WHEN $cond THEN CAST($b AS BIGINT)
         |              ELSE p.ab END AS ab,
         |         p.ver + CASE WHEN $cond THEN 1 ELSE 0 END AS ver,
         |         CASE WHEN isfinite($d) THEN abs($d) END AS stab
         |  FROM st${b - 1} p
         |  JOIN doms da ON da.b = p.ab
         |  JOIN doms db$b ON db$b.b = $b
         |)""".stripMargin
    }.mkString(",\n")
    val selects = (0 until DriftBatches).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, cn.n AS n_vectors_cum,
         |       st$b.ver AS model_version,
         |       round(st$b.stab, 6) AS model_stability,
         |       (st$b.ab = $b) AS refreshed,
         |       sp.k,
         |       CASE WHEN isfinite(sp.lambda)
         |            THEN round(sp.lambda, 6) END AS lambda,
         |       (isfinite(sp.lambda) AND isfinite(ta.trace)
         |        AND ta.trace > 0
         |        AND sp.lambda > ta.trace * $WhitenEps) AS retained
         |FROM st$b
         |JOIN cum_n cn ON cn.batch = $b
         |JOIN specs sp ON sp.b = st$b.ab
         |JOIN tr ta ON ta.batch = st$b.ab""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE $driftCumCteSql, mats AS MATERIALIZED (
       |  SELECT batch, list(row ORDER BY i) AS mat FROM (
       |    SELECT batch, i, list(c ORDER BY j) AS row
       |    FROM full_cells GROUP BY batch, i)
       |  GROUP BY batch
       |), pw AS (
       |  SELECT batch, 1 AS comp, 0 AS iter, mat,
       |         list_transform(range($Dim), d -> 0.125::DOUBLE) AS v,
       |         NULL::DOUBLE AS nrm,
       |         []::DOUBLE[] AS lambdas,
       |         NULL::DOUBLE[] AS dom
       |  FROM mats
       |  UNION ALL
       |  SELECT batch,
       |         CASE WHEN iter = $PI THEN comp + 1 ELSE comp END,
       |         CASE WHEN iter = $PI THEN 0 ELSE iter + 1 END,
       |         CASE WHEN iter = $PI AND comp < $K
       |              THEN list_transform(range($Dim),
       |                i -> list_transform(range($Dim),
       |                  j -> mat[i + 1][j + 1]
       |                       - nrm * v[i + 1] * v[j + 1]))
       |              ELSE mat END,
       |         CASE WHEN iter = $PI
       |              THEN list_transform(range($Dim), d -> 0.125::DOUBLE)
       |              ELSE list_transform(y, e -> e / ny) END,
       |         CASE WHEN iter = $PI THEN NULL ELSE ny END,
       |         CASE WHEN iter = $PI THEN lambdas || [nrm]
       |              ELSE lambdas END,
       |         CASE WHEN iter = $PI AND comp = 1 THEN v ELSE dom END
       |  FROM (
       |    SELECT *, CASE WHEN iter < $PI
       |                   THEN sqrt(list_dot_product(y, y)) END AS ny
       |    FROM (
       |      SELECT *, CASE WHEN iter < $PI
       |                     THEN list_transform(range($Dim),
       |                       i -> list_dot_product(mat[i + 1], v)) END AS y
       |      FROM pw WHERE comp <= $K))
       |), fin AS MATERIALIZED (
       |  SELECT batch, lambdas, dom FROM pw WHERE comp = ${K + 1}
       |), doms AS MATERIALIZED (
       |  SELECT batch AS b, dom AS v FROM fin
       |), specs AS MATERIALIZED (
       |  SELECT batch AS b, CAST(t.k AS BIGINT) AS k,
       |         lambdas[t.k] AS lambda
       |  FROM fin, (SELECT unnest(generate_series(1, $K)) AS k) t
       |),
       |st0 AS (SELECT CAST(0 AS BIGINT) AS ab, CAST(1 AS BIGINT) AS ver,
       |               NULL::DOUBLE AS stab),
       |$states
       |$selects
       |ORDER BY batch_id, k""".stripMargin
  }

  // ----------------------------------------------------------------
  // q275 — ANN-pooled rerank audit (q270's pool comes from exact
  // brute-force retrieval; at scale the pool arrives from the
  // serving index — this measures whether the diversifier ABSORBS
  // or AMPLIFIES the index's retrieval error)
  // ----------------------------------------------------------------

  /** The ANN candidate pool: q25's IVF probe (shared codebook
    * protocol, fixed [[NProbe]] budget) scored EXACTLY within the
    * probed lists, top-[[RerankPool]] per query — the pool a serving
    * stack actually hands the reranker. Same row shape as
    * [[exactRerankPool]] so the identical greedy runs on both. */
  private def annRerankPool(e: DataFrame): DataFrame = {
    val cents = ivfCodebook(e)
    def scores(v: Column): Column = ivfScores(cents, v)
    val assigned = e.withColumn("cid", ivfAssign(cents.toSeq, col("v")))
    val probes = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(transform(
          slice(sort_array(scores(col("v")), asc = false), 1, NProbe),
          s => -s("ncid"))).as("cid"))
    probes
      .join(assigned.select(col("cid"), col("vec_id"), col("v")), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("rel"), col("v"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("neighbor_id"))))
      .filter(col("rk") <= RerankPool)
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("v"))
  }

  /** q275 — ANN-pooled rerank agreement audit: run the SHIPPED q270
    * greedy ([[mmrGreedy]], via the same [[mmrPicks]]) over both the
    * exact pool and the ANN pool, and report per query the integers
    * that say what the index substitution costs: pool_overlap (how
    * much of the exact pool the probe even retrieved), topk_agree
    * (plain top-k agreement — the RAW index error, before any
    * diversifier), mmr_agree (pick agreement after the diversifier),
    * and score_delta_e6 (Σ MMR pick scores, exact − ANN, in exact
    * 1e-6 integer units). mmr_agree ≥/≤ topk_agree is THE question
    * this audit answers: a diversifier that spreads picks across the
    * pool can absorb retrieval error (the missed exact-top candidates
    * were near-duplicates MMR would have skipped anyway) or amplify
    * it (novelty chases exactly the tail the probe failed to
    * retrieve).
    *
    * Exactness: both pools score candidates by EXACT cosine (the ANN
    * arm approximates only the candidate SET, q25's semantics), the
    * greedy is the shared kernel, and every output is an integer —
    * the score delta sums round(score·1e6) as BIGINTs, so no
    * unordered float fold reaches the output (the q196 lesson).
    *
    * Scale shape: the exact arm is q270's audit-class pool build
    * (fixture-sized holdouts at 100 TB); the ANN arm is q25's serving
    * shape (map-side assignment, probe join keyed by cid, bounded
    * per-query windows); the greedy is constant-bounded per group;
    * the audit joins are |queries|·RerankPool-bounded. */
  def annRerank(spark: SparkSession, sfDir: String): DataFrame =
    annRerankOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame (specs force the pools
    * equal and require row-for-row q270 reconciliation, then plant a
    * herded corpus where the probe misses and the audit shows it). */
  def annRerankOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    val e = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val epool = exactRerankPool(e)
    val apool = annRerankPool(e)
    def ids(pool: DataFrame) =
      pool.select(col("query_id"), col("neighbor_id"))
    def plainTop(pool: DataFrame) = ids(pool
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("neighbor_id"))))
      .filter(col("rk") <= TopK))
    def agree(a: DataFrame, b: DataFrame, as: String) =
      a.join(b, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as(as))
    // NaN-scored picks (a zero vector in the pool wins NaN-totally —
    // spec-pinned in PropertySpec) map to an exact 0 sentinel BEFORE
    // the e6 cast on BOTH faces: Spark casts NaN→0L silently while
    // DuckDB raises casting NaN to BIGINT, so an asymmetric cast would
    // diverge on exactly the input class the NaN hardening targets
    def e6(picks: DataFrame, as: String) =
      picks.groupBy("query_id")
        .agg(sum(when(isnan(col("score_raw")), lit(0L))
          .otherwise(round(col("score_raw") * 1e6, 0).cast("long"))).as(as))
    val ep = mmrPicks(epool)
    val ap = mmrPicks(apool)
    epool.select(col("query_id")).distinct()
      .join(agree(ids(epool), ids(apool), "ov"), Seq("query_id"), "left_outer")
      .join(agree(plainTop(epool), plainTop(apool), "tk"),
        Seq("query_id"), "left_outer")
      .join(agree(ids(ep), ids(ap), "ma"), Seq("query_id"), "left_outer")
      .join(e6(ep, "se"), Seq("query_id"), "left_outer")
      .join(e6(ap, "sa"), Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("ov"), lit(0L)).as("pool_overlap"),
        coalesce(col("tk"), lit(0L)).as("topk_agree"),
        coalesce(col("ma"), lit(0L)).as("mmr_agree"),
        (coalesce(col("se"), lit(0L)) - coalesce(col("sa"), lit(0L)))
          .as("score_delta_e6"))
      .orderBy("query_id")
  }

  /** q275 twin: the shared q270 exact pool + greedy chain, a second
    * pool from the q25 IVF probe CTEs, a second greedy chain over it
    * (prefix `a`), then the four per-query integer aggregates as
    * LEFT joins from the exact pool's query list. */
  val annRerankSql: String = {
    def picksUnion(pfx: String) = (1 to TopK)
      .map(t => s"SELECT query_id, neighbor_id, score FROM s$pfx$t")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$exactPoolCteSql,
       |${mmrChainCtesSql("", "pool")},
       |${ivfCentCtes("cent", "e", "v")},
       |asg AS MATERIALIZED (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
       |               c.cid) AS rn
       |    FROM e, cent c) WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
       |               c.cid) AS rn
       |    FROM e, cent c WHERE e.vec_id < $NQueries) WHERE rn <= $NProbe
       |), apool AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rel, v FROM (
       |    SELECT p.query_id, a.vec_id AS neighbor_id,
       |           list_cosine_similarity(eq.v, a.v) AS rel, a.v AS v,
       |           row_number() OVER (PARTITION BY p.query_id
       |             ORDER BY list_cosine_similarity(eq.v, a.v) DESC,
       |               a.vec_id) AS rn
       |    FROM probes p
       |    JOIN asg a ON a.cid = p.cid AND a.vec_id != p.query_id
       |    JOIN e eq ON eq.vec_id = p.query_id)
       |  WHERE rn <= $RerankPool
       |),
       |${mmrChainCtesSql("a", "apool")},
       |ep AS (${picksUnion("")}),
       |ap AS (${picksUnion("a")}),
       |etop AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY rel DESC, neighbor_id) AS rn
       |    FROM pool) WHERE rn <= $TopK
       |), atop AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY rel DESC, neighbor_id) AS rn
       |    FROM apool) WHERE rn <= $TopK
       |), ov AS (
       |  SELECT p.query_id, COUNT(*) AS ov FROM pool p
       |  JOIN apool a USING (query_id, neighbor_id) GROUP BY 1
       |), tk AS (
       |  SELECT e1.query_id, COUNT(*) AS tk FROM etop e1
       |  JOIN atop a1 USING (query_id, neighbor_id) GROUP BY 1
       |), ma AS (
       |  SELECT e2.query_id, COUNT(*) AS ma FROM ep e2
       |  JOIN ap a2 USING (query_id, neighbor_id) GROUP BY 1
       |), se AS (
       |  SELECT query_id,
       |         CAST(SUM(CASE WHEN isnan(score) THEN 0
       |                       ELSE CAST(round(score * 1e6) AS BIGINT)
       |                  END) AS BIGINT) AS s
       |  FROM ep GROUP BY 1
       |), sa AS (
       |  SELECT query_id,
       |         CAST(SUM(CASE WHEN isnan(score) THEN 0
       |                       ELSE CAST(round(score * 1e6) AS BIGINT)
       |                  END) AS BIGINT) AS s
       |  FROM ap GROUP BY 1
       |)
       |SELECT q.query_id,
       |       COALESCE(ov.ov, 0) AS pool_overlap,
       |       COALESCE(tk.tk, 0) AS topk_agree,
       |       COALESCE(ma.ma, 0) AS mmr_agree,
       |       COALESCE(se.s, 0) - COALESCE(sa.s, 0) AS score_delta_e6
       |FROM (SELECT DISTINCT query_id FROM pool) q
       |LEFT JOIN ov ON ov.query_id = q.query_id
       |LEFT JOIN tk ON tk.query_id = q.query_id
       |LEFT JOIN ma ON ma.query_id = q.query_id
       |LEFT JOIN se ON se.query_id = q.query_id
       |LEFT JOIN sa ON sa.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // q276 — incremental IVF-PQ maintenance audit (the q231/q274
  // lifecycle discipline applied to the SERVING INDEX: when the next
  // ingest batch lands, what does serving it from FROZEN quantizers
  // cost vs a full rebuild?)
  // ----------------------------------------------------------------

  /** One q276 audit arm over a shared normalized corpus: train the
    * coarse+PQ quantizers on `train`, assign/encode the FULL corpus,
    * audit the `qsel` queries (probe budget NProbe, ADC ranking,
    * exact-cosine GT). Extracted object-level so q283's retrain
    * policy sweeps the same arms over a wider query cohort. */
  private def maintainArms(e: DataFrame, qsel: DataFrame,
      arms: Seq[(String, DataFrame)]): Map[String, DataFrame] = {
    // batched training (guide §1.2): the arms are independent, so the
    // IVF codebooks train as ONE tagged-union job per phase (seed +
    // Lloyd stats) and the PQ books likewise — 4 driver round-trips
    // for both arms instead of 8, identical per-arm folds and values
    val cbs = ivfCodebooks(arms)
    // FULL corpus assigned/encoded; only TRAINING reads the slice.
    // Trainer collects read the NARROW corpus (single-split fixture:
    // the fan-out exchange costs more than their single-task compute
    // — measured); the audit-side encode/scoring stage is the big
    // map (corpus × query cohort, cosine + ADC + two windows), so it
    // reads the WIDENED corpus and runs on every core.
    val eW = widen(e)
    val booksBy = pqBooksBatch(arms.map { case (tag, train) =>
      (tag,
        residuals(cbs(tag), e).join(train.select(col("vec_id")),
          Seq("vec_id"), "left_semi"),
        PqM, PqSub)
    })
    arms.map { case (tag, _) =>
      tag -> maintainArmAudit(e, qsel, cbs(tag), booksBy(tag), eW, tag)
    }.toMap
  }

  private def maintainArmAudit(e: DataFrame, qsel: DataFrame,
      cents: Array[(Long, Seq[Double])],
      books: Seq[Seq[(Long, Seq[Double])]],
      eWide: DataFrame, tag: String): DataFrame = {
    val centMap = typedlit(cents.toMap)
    def scores(c: Column): Column = ivfScores(cents, c)
    // fused encode over the widened corpus: residual subtraction rides
    // INSIDE the per-subspace argmin kernel (no zip_with rv column, no
    // slice/struct-sort per row — bit-equal, see NearestL2Code)
    val codes = (0 until PqM).map { s =>
      graft.functions.NearestL2Code.nearest_l2_code_residual(
        col("x"), element_at(centMap, col("cid")), s * PqSub, books(s))
        .as(s"c$s")
    }
    val enc = eWide
      .withColumn("cid", ivfAssign(cents.toSeq, col("x")))
      .select(
        Seq(col("vec_id").as("neighbor_id"), col("x").as("cx"),
          col("cid")) ++ codes: _*)
    val qe = e.join(broadcast(qsel), Seq("vec_id"))
    val qs = qe.select(col("vec_id").as("query_id"), col("x").as("qx"))
    val probes = qe
      .select(col("vec_id").as("query_id"),
        explode(transform(
          slice(sort_array(scores(col("x")), asc = false), 1, NProbe),
          s => -s("ncid"))).as("pcid"))
    // native dot kernels: same ascending left-assoc fold as the HOF
    // form (bit-equal), whole-stage codegen'd on the corpus-sized scan;
    // the offset form skips the per-(pair × subspace) slice allocation
    val adcTerms =
      graft.functions.DotProduct.dot_product(
        col("qx"), element_at(centMap, col("cid"))) +:
      (0 until PqM).map { s =>
        graft.functions.DotProductOffset.dot_product_off(
          col("qx"), s * PqSub,
          element_at(typedlit(books(s).toMap), col(s"c$s")))
      }
    val k = TopK.toLong
    val scored = enc
      .join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("cid"),
        cosine(col("qx"), col("cx")).as("cos"),
        adcTerms.reduceLeft(_ + _).as("adc"))
      .join(broadcast(probes.withColumnRenamed("query_id", "p_qid")),
        col("query_id") === col("p_qid") && col("cid") === col("pcid"),
        "left_outer")
      .drop("p_qid")
      .withColumn("probed", col("pcid").isNotNull)
    scored
      .withColumn("r_ex", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      .withColumn("r_adc", row_number().over(
        Window.partitionBy(col("query_id"), col("probed"))
          .orderBy(col("adc").desc, col("neighbor_id"))).cast("long"))
      .groupBy("query_id").agg(
        sum(when(col("probed"), 1L).otherwise(0L)).as("scanned_rows"),
        sum(when(col("r_ex") <= k, 1L).otherwise(0L)).as("gt_k"),
        sum(when(col("probed") && col("r_adc") <= k && col("r_ex") <= k,
          1L).otherwise(0L)).as("hits"))
      .select(lit(tag).as("arm"), col("query_id"), col("scanned_rows"),
        col("gt_k"), col("hits"),
        round(col("hits").cast("double") / col("gt_k").cast("double"), 6)
          .as("recall"))
  }

  /** q276 — frozen-vs-rebuilt index audit. The corpus splits on the
    * q265/q267 ingest axis (vec_id ranges, [[DriftBatches]] batches):
    * batches 0‥6 are the STANDING corpus, batch 7 is the new arrival.
    * The `frozen` arm is what an incremental pipeline actually does —
    * coarse centroids sampled from the standing corpus and PQ books
    * trained on standing residuals, with the new batch merely
    * ASSIGNED + ENCODED under those frozen parameters (map-only, the
    * q231 contraction idea applied to quantizers); the `rebuilt` arm
    * re-derives both from the full corpus. Both serve the FULL corpus
    * and are judged by the q272/q273 protocol (fixed [[NProbe]]
    * budget, ADC ranking, exact float top-k as GT), so the recall gap
    * between the arms IS the staleness cost of not retraining — the
    * price q274's refresh trigger decides whether to pay. The QUERIES
    * are the first [[NQueries]] vectors of the ARRIVAL batch — fresh
    * traffic is what exposes staleness; standing queries' neighbors
    * are standing vectors, which both arms index identically (the
    * first draft used the q13 standing queries and both arms scored
    * 80/80 on the drifted fixture — the audit asked the wrong
    * question). On a same-distribution arrival the gap should be ≈ 0
    * (incremental maintenance is free); on a drifted arrival (the
    * q274 planted event) the frozen books never saw the new cohort's
    * residual geometry and its ADC ranking collapses — both are
    * spec-pinned.
    *
    * Exactness: both arms score candidates by exact cosine for GT and
    * by ADC for serving (q273's discipline — deterministic literal
    * codebooks, left-associated term order, neighbor_id ties).
    * Scale shape: per arm, one bounded codebook collect, one combined
    * Lloyd-stats job over the TRAINING slice, then the one-scan
    * assignment/encode + bounded probe audit; nothing corpus-sized
    * collects. The frozen arm's incremental cost at 100 TB is ONLY
    * the batch-sized assign+encode scan — that asymmetry is the
    * operator's reason to exist. */
  def ivfPqMaintain(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqMaintainOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame (specs plant a drifted
    * arrival batch and assert the frozen arm pays recall for it, and
    * a same-distribution arrival where it doesn't). */
  def ivfPqMaintainOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    val width = ingestWidth(embs)
    val e = normalizeFrame(embs).localCheckpoint()
    val standing = standingSlice(e, width)
    // queries = the first NQueries arrival ids — fresh traffic. A
    // LITERAL id range (width is driver-known), not ORDER BY+LIMIT,
    // so the plan's bounded-broadcast detector sees the cut
    val qLo = width * (DriftBatches - 1)
    val qsel = e.filter(col("vec_id") >= qLo &&
        col("vec_id") < qLo + NQueries)
      .select(col("vec_id"))

    val arms = maintainArms(e, qsel,
      Seq("frozen" -> standing, "rebuilt" -> e))
    arms("frozen").unionByName(arms("rebuilt"))
      .orderBy("arm", "query_id")
  }

  /** Queries drawn per ingest batch for the q283 policy sweep — the
    * first [[PolicyQueries]] ids of every batch, so the decision axis
    * covers standing AND fresh traffic with one bounded cohort
    * ([[DriftBatches]]·PolicyQueries = 32 queries total). */
  val PolicyQueries = 4

  /** Declared retrain threshold: the frozen arm may lag the rebuilt
    * arm by at most this much aggregate recall (ppm) on a query batch
    * before the policy calls for a retrain. 15%: with
    * [[PolicyQueries]]·[[TopK]] = 40 GT slots per batch each hit is
    * 25 000 ppm, so same-distribution sampling noise (a few hits
    * either way — the real fixture wobbles to ±100 000) stays under
    * the bar, while a genuinely drifted cohort — where the frozen
    * books never saw the new residual geometry and ADC ranking
    * collapses toward zero recall against a healthy rebuilt arm —
    * blows through it (spec-pinned). A production operator tunes this
    * against the rebuild cost q277 prices. */
  val RetrainGapPpm = 150000L

  /** q283 — the RETRAIN-TRIGGER POLICY, the decision operator on top
    * of q276's pricing: q276 tells you what serving a batch from
    * frozen quantizers costs in recall and q277 what a rebuild costs
    * in compute; this query joins the two existing arms per query,
    * aggregates the recall gap PER INGEST BATCH along the drift axis,
    * applies the declared [[RetrainGapPpm]] threshold, and reports
    * the first batch whose frozen-arm decay crosses it — the "when do
    * we retrain" answer a 100 TB index operator actually ships.
    *
    * Both arms train ONCE (frozen on the standing slice, rebuilt on
    * the full corpus — exactly q276's two bounded trainings); only
    * the query cohort widens, to [[PolicyQueries]] per batch, so the
    * per-batch rows price how each traffic cohort fares under the
    * same frozen index. On the real (same-distribution) fixture every
    * gap sits near 0 and `first_trigger_batch` is NULL — "don't
    * retrain" is a result, not a failure; the drifted-fixture spec
    * pins that the trigger fires on the planted batch. All outputs
    * are exact integers (counts + integer-div ppm — the q253 rule);
    * the NULL trigger sentinel means "no batch crossed the
    * threshold". Scale shape: two bounded trainings, one scoring scan
    * per arm over a constant-bounded query broadcast, an 8-row
    * aggregate, and one window over those 8 rows. */
  def retrainPolicy(spark: SparkSession, sfDir: String): DataFrame =
    retrainPolicyOn(spark, Tables.load(spark, sfDir, "embeddings"))

  /** Core over an injectable embeddings frame (specs plant drift). */
  def retrainPolicyOn(spark: SparkSession, embs: DataFrame): DataFrame = {
    val width = ingestWidth(embs)
    val e = normalizeFrame(embs).localCheckpoint()
    val standing = standingSlice(e, width)
    // the policy cohort as an OR of LITERAL id ranges (width is
    // driver-known): semantically `vec_id % width < PolicyQueries`,
    // but range predicates both push to the parquet scan and carry
    // the structural vec_id<k cut the bounded-broadcast detector
    // recognizes — a modulo cut does neither
    val qsel = e.filter(
        (0 until DriftBatches).map { b =>
          col("vec_id") >= b * width &&
            col("vec_id") < b * width + PolicyQueries
        }.reduce(_ || _))
      .select(col("vec_id"))
    val arms = maintainArms(e, qsel,
      Seq("frozen" -> standing, "rebuilt" -> e))
    val frozen = arms("frozen")
      .select(col("query_id"), col("gt_k").as("gt_f"),
        col("hits").as("hits_f"))
    val rebuilt = arms("rebuilt")
      .select(col("query_id"), col("gt_k").as("gt_r"),
        col("hits").as("hits_r"))
    frozen.join(rebuilt, Seq("query_id"))
      .withColumn("batch", expr(s"query_id div $width"))
      .groupBy("batch").agg(
        count(lit(1)).as("n_q"),
        sum(col("gt_f")).as("gt_frozen"),
        sum(col("hits_f")).as("hits_frozen"),
        sum(col("gt_r")).as("gt_rebuilt"),
        sum(col("hits_r")).as("hits_rebuilt"))
      // integer `div` (Column `/` is a double divide) — the q253 ppm rule
      .selectExpr("batch", "n_q", "gt_frozen", "hits_frozen",
        "CASE WHEN gt_frozen = 0 THEN 0L" +
          " ELSE hits_frozen * 1000000L div gt_frozen END AS frozen_ppm",
        "gt_rebuilt", "hits_rebuilt",
        "CASE WHEN gt_rebuilt = 0 THEN 0L" +
          " ELSE hits_rebuilt * 1000000L div gt_rebuilt END AS rebuilt_ppm")
      .withColumn("gap_ppm", col("rebuilt_ppm") - col("frozen_ppm"))
      .withColumn("retrain", col("gap_ppm") > RetrainGapPpm)
      // the decision rides every row: min triggered batch over the
      // DriftBatches(=8)-row aggregate — a bounded unpartitioned window
      .withColumn("first_trigger_batch",
        min(when(col("retrain"), col("batch")))
          .over(Window.partitionBy()))
      .orderBy("batch")
  }

  /** q276 twin: one normalized corpus CTE + the ingest-width anchor,
    * then the q273 per-arm pipeline instantiated twice — the ONLY
    * difference between the arms is the training predicate on the
    * centroid sample and the PQ seed/Lloyd CTEs; assignment, encode,
    * probe, and audit all run over the full corpus in both. */
  // ------------------------------------------------------------------
  // Shared SQL builders for the q276 family (maintain / retrain policy
  // / compaction census): the per-arm CTE chain split into its
  // train+encode half and its probe/audit half, both over the shared
  // `en` (+ `wp`, `qsel`) prefix.
  // ------------------------------------------------------------------

  private def pqSqdSql(a: String, b: String) =
    s"""list_sum(list_transform(range($PqSub),
       |               j -> ($a[j + 1] - $b[j + 1])
       |                    * ($a[j + 1] - $b[j + 1])))""".stripMargin

  /** Train/encode half of one q276 arm: coarse centroids over the
    * `trainPred` rows (ivfCentCtes), full-corpus residual assignment
    * (`rs$sp`), PQ books from trainPred residuals, full-corpus codes
    * (`pcode` per subspace). */
  private[ext] def maintainTrainCtesSql(sp: String,
      trainPred: String): String = {
    require(PqRounds == 1,
      "maintain twins unroll exactly one PQ Lloyd round; regenerate " +
        "the per-subspace CTE chain before bumping PqRounds")
    def lo(s: Int) = s * PqSub + 1
    def hi(s: Int) = (s + 1) * PqSub
    val perSub = (0 until PqM).map { s =>
      s"""pc$sp${s}_0 AS (
         |  SELECT r.vec_id AS cid, r.rv[${lo(s)}:${hi(s)}] AS cv
         |  FROM rs$sp r WHERE r.vec_id < $PqK AND ($trainPred)
         |), pa$sp${s}_1 AS MATERIALIZED (
         |  SELECT vec_id, sv, cid FROM (
         |    SELECT r.vec_id, r.rv[${lo(s)}:${hi(s)}] AS sv, c.cid,
         |           row_number() OVER (PARTITION BY r.vec_id
         |             ORDER BY ${pqSqdSql(s"r.rv[${lo(s)}:${hi(s)}]", "c.cv")}
         |               ASC, c.cid) AS rn
         |    FROM rs$sp r, pc$sp${s}_0 c WHERE ($trainPred)) WHERE rn = 1
         |), pc$sp${s}_1 AS MATERIALIZED (
         |  SELECT cid, list(mn ORDER BY i) AS cv FROM (
         |    SELECT cid, i,
         |           CAST(CAST(SUM(CAST(round(sv[i] * $PqGrid) AS BIGINT))
         |                     AS BIGINT) AS DOUBLE)
         |           / (CAST(COUNT(*) AS DOUBLE) * $PqGrid) AS mn
         |    FROM pa$sp${s}_1, (SELECT unnest(generate_series(1, $PqSub)) AS i)
         |    GROUP BY cid, i)
         |  GROUP BY cid
         |), sub$sp$s AS (
         |  SELECT vec_id, rv[${lo(s)}:${hi(s)}] AS sv FROM rs$sp
         |), pcode$sp$s AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT a.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${pqSqdSql("a.sv", "c.cv")} ASC, c.cid) AS rn
         |    FROM sub$sp$s a, pc$sp${s}_1 c) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""${ivfCentCtes(s"cent$sp", "en", "x", trainPred)},
       |rs$sp AS MATERIALIZED (
       |  SELECT a.vec_id, a.ingest_batch, a.x, a.cid,
       |         list_transform(range($Dim),
       |           i -> a.x[i + 1] - c.cv[i + 1]) AS rv
       |  FROM (
       |    SELECT vec_id, ingest_batch, x, cid FROM (
       |      SELECT e.vec_id, e.ingest_batch, e.x, c.cid,
       |             row_number() OVER (PARTITION BY e.vec_id
       |               ORDER BY list_cosine_similarity(e.x, c.cv) DESC,
       |                 c.cid) AS rn
       |      FROM en e, cent$sp c) WHERE rn = 1) a
       |  JOIN cent$sp c ON c.cid = a.cid
       |),
       |$perSub""".stripMargin
  }

  /** Probe/score/rank/aggregate half of one q276 arm: per-query audit
    * rows `ag$sp` (scanned/gt/hits) for the `qsel` queries. */
  private[ext] def maintainAuditCtesSql(sp: String): String = {
    def lo(s: Int) = s * PqSub + 1
    def hi(s: Int) = (s + 1) * PqSub
    val codeJoins = (0 until PqM)
      .map(s => s"JOIN pcode$sp$s ON pcode$sp$s.vec_id = r.vec_id")
      .mkString(" ")
    val codeCols = (0 until PqM)
      .map(s => s"pcode$sp$s.cid AS c$s").mkString(", ")
    val termJoins = (0 until PqM)
      .map(s => s"JOIN pc$sp${s}_1 k$s ON k$s.cid = cd.c$s")
      .mkString(" ")
    val adcSum = (s"list_dot_product(q.qx, c.cv)" +:
      (0 until PqM).map(s =>
        s"list_dot_product(q.qx[${lo(s)}:${hi(s)}], k$s.cv)"))
      .mkString(" + ")
    s"""prob$sp AS (
       |  SELECT vec_id AS query_id, cid AS pcid FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.x, c.cv) DESC,
       |               c.cid) AS rn
       |    FROM en e JOIN qsel ON qsel.vec_id = e.vec_id, cent$sp c)
       |  WHERE rn <= $NProbe
       |), fl$sp AS (
       |  SELECT q.query_id, cd.vec_id AS neighbor_id,
       |         list_cosine_similarity(q.qx, cd.x) AS cos,
       |         $adcSum AS adc,
       |         (p.pcid IS NOT NULL) AS probed
       |  FROM (SELECT r.vec_id, r.x, r.cid, $codeCols
       |        FROM rs$sp r $codeJoins) cd
       |  JOIN cent$sp c ON c.cid = cd.cid
       |  JOIN (SELECT e.vec_id AS query_id, e.x AS qx FROM en e
       |        JOIN qsel ON qsel.vec_id = e.vec_id) q
       |    ON cd.vec_id != q.query_id
       |  $termJoins
       |  LEFT JOIN prob$sp p ON p.query_id = q.query_id
       |                     AND p.pcid = cd.cid
       |), rk$sp AS (
       |  SELECT query_id, probed,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, neighbor_id) AS r_ex,
       |         row_number() OVER (PARTITION BY query_id, probed
       |           ORDER BY adc DESC, neighbor_id) AS r_adc
       |  FROM fl$sp
       |), ag$sp AS (
       |  SELECT query_id,
       |         SUM(CASE WHEN probed THEN 1 ELSE 0 END) AS scanned_rows,
       |         SUM(CASE WHEN r_ex <= $TopK THEN 1 ELSE 0 END) AS gt_k,
       |         SUM(CASE WHEN probed AND r_adc <= $TopK AND r_ex <= $TopK
       |                  THEN 1 ELSE 0 END) AS hits
       |  FROM rk$sp GROUP BY 1
       |)""".stripMargin
  }

  /** The shared `wp` (ingest width) + `en` (normalized corpus with
    * ingest_batch) twin prefix of the q276 family. */
  private[ext] def maintainEnCtesSql: String =
    s"""wp AS (
       |  SELECT (MAX(vec_id) + $DriftBatches) // $DriftBatches AS w
       |  FROM embeddings
       |), en AS MATERIALIZED (
       |  SELECT vec_id, list_transform(v0, x -> x / nrm) AS x,
       |         vec_id // wp.w AS ingest_batch
       |  FROM (
       |    SELECT vec_id, embedding::DOUBLE[] AS v0,
       |           sqrt(list_dot_product(embedding::DOUBLE[],
       |                                 embedding::DOUBLE[])) AS nrm
       |    FROM embeddings), wp
       |  WHERE nrm > 0
       |)""".stripMargin

  val ivfPqMaintainSql: String = {
    def armSelect(sp: String, tag: String) =
      s"""SELECT '$tag' AS arm, CAST(query_id AS BIGINT) AS query_id,
         |       CAST(scanned_rows AS BIGINT) AS scanned_rows,
         |       CAST(gt_k AS BIGINT) AS gt_k, CAST(hits AS BIGINT) AS hits,
         |       round(CAST(hits AS DOUBLE) / CAST(gt_k AS DOUBLE), 6)
         |         AS recall
         |FROM ag$sp""".stripMargin
    s"""WITH $maintainEnCtesSql, qsel AS MATERIALIZED (
       |  SELECT vec_id FROM en, wp
       |  WHERE vec_id >= wp.w * ${DriftBatches - 1}
       |    AND vec_id < wp.w * ${DriftBatches - 1} + $NQueries
       |),
       |${maintainTrainCtesSql("f", s"ingest_batch < ${DriftBatches - 1}")},
       |${maintainAuditCtesSql("f")},
       |${maintainTrainCtesSql("b", "TRUE")},
       |${maintainAuditCtesSql("b")}
       |${armSelect("f", "frozen")}
       |UNION ALL
       |${armSelect("b", "rebuilt")}
       |ORDER BY arm, query_id""".stripMargin
  }

  /** q283 twin: the same two-arm recompute over the per-batch policy
    * cohort, joined per query and aggregated per ingest batch; NULL
    * `first_trigger_batch` when no gap crosses the threshold. */
  val retrainPolicySql: String =
    s"""WITH $maintainEnCtesSql, qsel AS MATERIALIZED (
       |  SELECT vec_id FROM en, wp
       |  WHERE vec_id % wp.w < $PolicyQueries
       |),
       |${maintainTrainCtesSql("f", s"ingest_batch < ${DriftBatches - 1}")},
       |${maintainAuditCtesSql("f")},
       |${maintainTrainCtesSql("b", "TRUE")},
       |${maintainAuditCtesSql("b")},
       |per AS (
       |  SELECT f.query_id, f.gt_k AS gt_f, f.hits AS hits_f,
       |         b.gt_k AS gt_r, b.hits AS hits_r
       |  FROM agf f JOIN agb b USING (query_id)
       |), bb AS (
       |  SELECT p.query_id // wp.w AS batch, COUNT(*) AS n_q,
       |         SUM(gt_f) AS gt_frozen, SUM(hits_f) AS hits_frozen,
       |         SUM(gt_r) AS gt_rebuilt, SUM(hits_r) AS hits_rebuilt
       |  FROM per p, wp GROUP BY 1
       |), pp AS (
       |  SELECT batch, n_q, gt_frozen, hits_frozen,
       |         CASE WHEN gt_frozen = 0 THEN 0
       |              ELSE hits_frozen * 1000000 // gt_frozen
       |         END AS frozen_ppm,
       |         gt_rebuilt, hits_rebuilt,
       |         CASE WHEN gt_rebuilt = 0 THEN 0
       |              ELSE hits_rebuilt * 1000000 // gt_rebuilt
       |         END AS rebuilt_ppm
       |  FROM bb
       |)
       |SELECT CAST(batch AS BIGINT) AS batch,
       |       CAST(n_q AS BIGINT) AS n_q,
       |       CAST(gt_frozen AS BIGINT) AS gt_frozen,
       |       CAST(hits_frozen AS BIGINT) AS hits_frozen,
       |       CAST(frozen_ppm AS BIGINT) AS frozen_ppm,
       |       CAST(gt_rebuilt AS BIGINT) AS gt_rebuilt,
       |       CAST(hits_rebuilt AS BIGINT) AS hits_rebuilt,
       |       CAST(rebuilt_ppm AS BIGINT) AS rebuilt_ppm,
       |       CAST(rebuilt_ppm - frozen_ppm AS BIGINT) AS gap_ppm,
       |       (rebuilt_ppm - frozen_ppm > $RetrainGapPpm) AS retrain,
       |       CAST(MIN(CASE WHEN rebuilt_ppm - frozen_ppm > $RetrainGapPpm
       |                     THEN batch END) OVER () AS BIGINT)
       |         AS first_trigger_batch
       |FROM pp ORDER BY batch""".stripMargin
}
