package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Invariants for the q277/q278/q279 index-as-artifact family that
  * the row-hash oracle can't express:
  *
  *  - the SERVE numbers must reconcile with q273's inline raw arm at
  *    the same probe budget (the whole point of persisting: serving
  *    from the artifact changes the COST, never the answer);
  *  - [[IndexArtifact.ensure]] must be a genuine no-op on a fresh
  *    artifact (the serve path never retrains), and the serve plan
  *    must read the artifact, not the training pipeline;
  *  - each generation's persisted encoded table (raw and standing)
  *    must equal a fresh [[IndexArtifact.encodeUnder]] pass with its
  *    persisted quantizers (the frozen-arm kernel the streaming sink
  *    reuses), and each build submits a pinned number of jobs;
  *  - q279's sampled-GT numbers must be internally consistent with
  *    its full-GT columns.
  */
class IndexArtifactSpec extends SparkSpec {

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  test("q278: served rows equal q273's inline raw arm") {
    val served = IndexArtifact.indexServe(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val inline = Similarity.ivfPq(spark, sf001)
      .filter(col("space") === "raw").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSet
    assert(served == inline,
      s"artifact serving drifted from inline training: " +
        s"served-only=${(served diff inline).take(3)} " +
        s"inline-only=${(inline diff served).take(3)}")
  }

  test("q278: ensure is idempotent and the serve plan reads the artifact") {
    deleteRecursively(
      java.nio.file.Paths.get(IndexArtifact.artifactRoot(sf001)))
    assert(IndexArtifact.ensure(spark, sf001),
      "a missing artifact must trigger the build")
    assert(!IndexArtifact.ensure(spark, sf001),
      "a fingerprint-matched artifact must skip the build")
    val plan = IndexArtifact.indexServe(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_index"),
      s"serve must scan the persisted artifact:\n$plan")
    // the NQueries query-batch cut must reach the forward parquet scan
    // as a pushed filter — a scan that reads the whole forward table to
    // pick 8 query rows is wrong at any scale
    assert(plan.contains(s"LessThan(vec_id,${Similarity.NQueries})"),
      s"query cut must push to the forward scan:\n$plan")
  }

  test("q277: persisted encoded table equals a fresh frozen encode") {
    val embs = graft.Tables.load(spark, sf001, "embeddings")
    val normalized = embs
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v0"))
      .withColumn("nrm", Similarity.norm(col("v0")))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        transform(col("v0"), x => x / col("nrm")).as("x"))
    // q276's ingest axis over the RAW ids: the standing generation
    // indexes batches 0‥DriftBatches-2
    val maxId = embs.agg(max(col("vec_id"))).head().getLong(0)
    val width = (maxId + Similarity.DriftBatches) / Similarity.DriftBatches
    val standing = normalized.filter(
      expr(s"vec_id div $width") < Similarity.DriftBatches - 1)
    // one row per generation: (name, ensure, generation dir, corpus)
    val generations: Seq[(String, () => Boolean, () => String,
        org.apache.spark.sql.DataFrame)] = Seq(
      ("raw", () => IndexArtifact.ensure(spark, sf001),
        () => IndexArtifact.currentDir(spark, sf001), normalized),
      ("standing", () => IndexArtifact.ensureStanding(spark, sf001),
        () => IndexArtifact.currentStandingDir(spark, sf001), standing))
    generations.foreach { case (gen, ensure, dir, corpus) =>
      ensure()
      val (cents, books) = IndexArtifact.readQuantizers(spark, dir())
      assert(cents.length == Similarity.IvfK,
        s"$gen: codebook size must be the fixed K: ${cents.length}")
      val fresh = IndexArtifact.encodeUnder(cents, books, corpus)
        .collect().map(_.toSeq).toSet
      val persisted = IndexArtifact.readEncoded(spark, s"${dir()}/encoded")
        .select((Seq("vec_id", "cid") ++
          (0 until Similarity.PqM).map(s => s"c$s")).map(col): _*)
        .collect().map(_.toSeq).toSet
      assert(fresh.nonEmpty && fresh == persisted,
        s"$gen: the artifact's encoded rows must equal the frozen-encode " +
          s"kernel: fresh-only=${(fresh diff persisted).take(3)} " +
          s"persisted-only=${(persisted diff fresh).take(3)}")
    }
  }

  /** Spark jobs `f` submits, counted on the listener bus. */
  private def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("index builds: a raw and a standing generation build submit " +
      "the pinned number of jobs") {
    // corpus resolve + fingerprint + checkpoints + coarse and PQ
    // training collects + four writes (the standing build adds its
    // ingest-width read): one more Spark job moves these counts
    deleteRecursively(
      java.nio.file.Paths.get(IndexArtifact.artifactRoot(sf001)))
    deleteRecursively(
      java.nio.file.Paths.get(IndexArtifact.standingRoot(sf001)))
    val raw = jobsOf(assert(IndexArtifact.ensure(spark, sf001)))
    val standing = jobsOf(assert(IndexArtifact.ensureStanding(spark, sf001)))
    assert((raw, standing) == (15, 18),
      s"build job counts (raw, standing) moved: ($raw, $standing)")
  }

  test("q282: the serve scan physically prunes to the probed cid " +
      "partitions") {
    IndexArtifact.ensure(spark, sf001)
    val plan = IndexArtifact.indexServePruned(spark, sf001)
      .queryExecution.executedPlan.toString
    // the probed-list cut must land as a PARTITION filter on the
    // encoded scan (directory-level pruning), not a data filter the
    // scan evaluates after reading every list (round-12 verdict #1:
    // scanned_rows must be the plan's actual read)
    assert("PartitionFilters: \\[[^\\]]*cid[^\\]]*".r
        .findFirstIn(plan).isDefined,
      s"probed cids must prune the encoded scan's partitions:\n$plan")
    // and the query cut still pushes to the forward scan
    assert(plan.contains(s"LessThan(vec_id,${Similarity.NQueries})"),
      s"query cut must push to the forward scan:\n$plan")
  }

  test("q282: served top-k equals q278's probed-arm ADC ranking") {
    // pruning changes the bytes read, never the answer: the GT-free
    // serve must reproduce exactly the probed-arm ranking the q278
    // audit computes from the full candidate frame
    val served = IndexArtifact.indexServePruned(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val audit = IndexArtifact.servedScoredRanked(spark, sf001)
      .withColumn("probed",
        col("prank").isNotNull && col("prank") <= Similarity.NProbe)
      .filter(col("probed"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= Similarity.TopK)
      .select("query_id", "rk", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == audit,
      s"pruned serve drifted from the audit's probed arm: " +
        s"served-only=${(served diff audit).take(3)} " +
        s"audit-only=${(audit diff served).take(3)}")
  }

  test("ensure: an in-place vector edit preserving count and max id " +
      "invalidates the artifact (content fingerprint)") {
    // round-12 advisor (medium): the count+max fingerprint provably
    // served stale on a value-only corpus edit. Stage a private copy
    // of the corpus, build, mutate ONE vector's direction in place
    // (same rows, same max vec_id), and the next ensure must rebuild.
    val tmpSf = java.nio.file.Files
      .createTempDirectory("graft-fp-mut").toString
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    embs.write.mode("overwrite").parquet(s"$tmpSf/embeddings.parquet")
    assert(IndexArtifact.ensure(spark, tmpSf),
      "first ensure on a fresh corpus must build")
    assert(!IndexArtifact.ensure(spark, tmpSf),
      "unchanged corpus must serve the existing generation")
    // reverse vec_id 0's embedding: count, max(vec_id), and the id sum
    // are all preserved; only vector CONTENT moves (and not by a pure
    // rescale, which normalization would — correctly — absorb)
    val mutated = embs.withColumn("embedding",
      when(col("vec_id") === 0, reverse(col("embedding")))
        .otherwise(col("embedding")))
    // mutated reads from the sf001 fixture, so overwriting the staged
    // copy in place is not a read-under-write
    mutated.write.mode("overwrite").parquet(s"$tmpSf/embeddings.parquet")
    assert(IndexArtifact.ensure(spark, tmpSf),
      "a value-only corpus edit must trigger a rebuild — the " +
        "fingerprint would otherwise serve a stale index")
    deleteRecursively(java.nio.file.Paths.get(
      IndexArtifact.artifactRoot(tmpSf)))
    deleteRecursively(java.nio.file.Paths.get(tmpSf))
  }

  test("q280: merged-artifact serving equals q276's inline frozen arm") {
    val merged = IndexArtifact.indexMerge(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val inline = Similarity.ivfPqMaintain(spark, sf001)
      .filter(col("arm") === "frozen").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSet
    assert(merged == inline,
      s"merge lifecycle drifted from the inline frozen arm: " +
        s"merged-only=${(merged diff inline).take(3)} " +
        s"inline-only=${(inline diff merged).take(3)}")
  }

  test("q284: compaction preserves the census, reduces file count, " +
      "and lands one file per populated list dir") {
    val rows = IndexArtifact.indexCompact(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq ==
      Seq("arrival_compacted", "arrival_parts"))
    assert(rows(0).copy(_1 = "") == rows(1).copy(_1 = ""),
      s"compaction must not change a single census value: $rows")
    val dir = IndexArtifact.currentStandingDir(spark, sf001)
    val pf = graft.etl.Layout
      .parquetFileCount(s"$dir/encoded_arrival_parts")
    val cf = graft.etl.Layout
      .parquetFileCount(s"$dir/encoded_arrival_compacted")
    assert(pf > cf && cf > 0,
      s"compaction must fold the staged appends: $pf -> $cf files")
    // the serving layout: each populated cid directory holds exactly
    // one file (the repartition clusters each list into one task)
    val cids = spark.read.parquet(s"$dir/encoded_arrival_parts")
      .select("cid").distinct().count()
    assert(cf == cids,
      s"one file per populated list dir expected: $cf files, $cids lists")
  }

  test("q279: sampled-GT columns are consistent with the full-GT ones") {
    val rows = IndexArtifact.indexServeSampledGt(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7))))
    assert(rows.length == Similarity.NQueries)
    rows.foreach { case (_, gtK, hits, ppm, sGtK, sHits, sPpm, delta) =>
      assert(gtK == Similarity.TopK.toLong)
      assert(hits >= 0 && hits <= gtK)
      assert(sGtK <= gtK, s"sampled GT cannot exceed the full one")
      assert(sHits >= 0 && sHits <= sGtK)
      assert(ppm == (if (gtK == 0) 0L else hits * 1000000L / gtK))
      if (sGtK == 0) {
        // an empty sample makes the ratio UNDEFINED, not zero
        assert(sPpm.isEmpty && delta.isEmpty,
          "empty sampled GT must report NULL ppm and delta")
      } else {
        assert(sPpm.contains(sHits * 1000000L / sGtK))
        assert(delta.contains(sPpm.get - ppm),
          "delta must be the recorded difference")
      }
    }
    // the 25% sample must actually engage at this SF (non-degenerate)
    assert(rows.exists(_._5 > 0), "sampled GT must be populated")
  }

  test("q281: probe widening is a strict scan superset with exact " +
      "integer accounting") {
    val rows = IndexArtifact.indexServeFiltered(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9)))
    assert(rows.length == Similarity.NQueries)
    rows.foreach { case (_, qlabel, gtK, scanN, hitsN, ppmN,
        scanW, hitsW, ppmW, gain) =>
      assert(qlabel >= 0, "query label must resolve from the base table")
      assert(gtK >= 0 && gtK <= Similarity.TopK.toLong)
      // the wide probe set is a prefix-superset of the narrow one, so
      // its scan (counted PRE-filter: the post-filter arm decodes every
      // probed row) can only grow
      assert(scanW >= scanN,
        s"wide probes must scan at least the narrow rows: $scanW < $scanN")
      assert(hitsN >= 0 && hitsN <= gtK)
      assert(hitsW >= 0 && hitsW <= gtK)
      assert(ppmN == (if (gtK == 0) 0L else hitsN * 1000000L / gtK))
      assert(ppmW == (if (gtK == 0) 0L else hitsW * 1000000L / gtK))
      assert(gain == ppmW - ppmN, "gain must be the recorded difference")
    }
    // the filter must actually bind at this SF (some query has fewer
    // label-matching candidates than an unfiltered TopK would rank),
    // and widening must buy extra scan somewhere (non-degenerate arms)
    assert(rows.exists(_._7 > 0), "wide-arm scan must engage")
    assert(rows.exists(r => r._7 > r._4),
      "some query must scan strictly more at the wide budget")
  }
}
