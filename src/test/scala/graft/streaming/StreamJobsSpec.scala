package graft.streaming

import graft.SparkSpec
import graft.ext.Events
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamJobsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hourly counts equal the batch tumbling aggregation") {
    // the file stream source watches directories, so stage the fixture
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = StreamJobs.readEvents(spark, dir.toString)
    assert(stream.isStreaming)
    // Complete mode: with Append, windows above the watermark would still
    // be open when the bounded replay ends and never reach the sink
    val got = StreamJobs.runToMemory(
      StreamJobs.hourlyCounts(stream), "hourly_test", OutputMode.Complete())
      .select(col("window_start"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    val want = Events.tumbling(spark, sf001)
      .select(col("window_start"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == want, s"stream/batch drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
  }

  test("streaming gopher gate replays to the batch q112 rows exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gate")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/documents.parquet"),
      dir.resolve("documents.parquet"))
    val stream = StreamJobs.readDocuments(spark, dir.toString)
    assert(stream.isStreaming)
    // stateless gate -> Append emits each doc once; replay == batch
    val got = StreamJobs.runToMemory(
      StreamJobs.gopherGate(stream), "gate_test", OutputMode.Append())
      .collect().map(r => r.toSeq).toSet
    val want = graft.ext.TextAnalysis.gopherRules(spark, sf001)
      .collect().map(r => r.toSeq).toSet
    assert(got == want,
      s"gate drift: ${(got diff want).take(2)} vs ${(want diff got).take(2)}")
  }

  test("streaming calibration bins replay to the batch q224 kernel") {
    val dir = java.nio.file.Files.createTempDirectory("graft-calib")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/documents.parquet"),
      dir.resolve("documents.parquet"))
    val stream = StreamJobs.readDocuments(spark, dir.toString)
    val got = StreamJobs.runToMemory(
      StreamJobs.calibrationBins(stream), "calib_test",
      OutputMode.Complete())
      .collect().map(r => r.toSeq).toSet
    val want = graft.ext.TextAnalysis.calibrationBinsOn(
      graft.Tables.load(spark, sf001, "documents"))
      .collect().map(r => r.toSeq).toSet
    assert(got == want,
      s"bin drift: ${(got diff want).take(2)} vs ${(want diff got).take(2)}")
    // fixed state: never more than the 10 decile bins
    assert(got.size <= 10)
  }

  test("streaming drift monitor replays to the batch q113 rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/documents.parquet"),
      dir.resolve("documents.parquet"))
    val out = java.nio.file.Files.createTempDirectory("graft-drift-out")
      .resolve("kl").toString
    val refDocs = graft.Tables.load(spark, sf001, "documents")
    val q = StreamJobs.driftMonitor(
      StreamJobs.readDocuments(spark, dir.toString), refDocs, out)
    q.awaitTermination(60000)
    // one file-source batch over a static corpus, scored against itself
    // == the batch q113 result exactly
    val got = spark.read.parquet(out)
      .select("source", "vocab_tokens", "kl_divergence")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val want = graft.ext.TextAnalysis.sourceDrift(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == want,
      s"drift drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
  }

  test("streaming HLL registers replay to the batch register table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hll")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = StreamJobs.readEvents(spark, dir.toString)
    val got = StreamJobs.runToMemory(
      StreamJobs.hllUserRegisters(stream), "hll_test", OutputMode.Complete())
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val want = graft.ext.Sketches.hllRegisters(
      Events.loadEvents(spark, sf001), "event_type", "user_id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == want,
      s"register drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
    // fixed state: at most |types| x 256 register rows, ever
    assert(got.size <= Events.EventTypes.size * graft.ext.Sketches.HllBuckets)
  }

  test("streaming conversion registers replay to the batch kernel (q241 face)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-conv")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = StreamJobs.readEvents(spark, dir.toString)
    val got = StreamJobs.runToMemory(
      StreamJobs.conversionRegisters(stream), "conv_test",
      OutputMode.Complete())
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val want = StreamJobs.conversionRegisters(Events.loadEvents(spark, sf001))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == want,
      s"register drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
    // fixed state: 2 populations x days x 256 registers, bounded by calendar
    val nDays = got.map(_._1.split('|')(0)).size
    assert(got.size <= 2 * nDays * graft.ext.Sketches.HllBuckets)
    // the purch population can never register more buckets than active
    val byPop = got.groupBy(_._1.split('|')(1)).view.mapValues(_.size).toMap
    assert(byPop("purch") <= byPop("active"))
  }

  test("streaming minute counts replay to the batch q155 input table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-minute")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = StreamJobs.readEvents(spark, dir.toString)
    val got = StreamJobs.runToMemory(
      StreamJobs.minuteCounts(stream), "minute_test", OutputMode.Complete())
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = Events.loadEvents(spark, sf001)
      .groupBy(org.apache.spark.sql.functions.date_trunc("minute",
          org.apache.spark.sql.functions.col("ts")).as("minute"),
        org.apache.spark.sql.functions.col("event_type"))
      .count()
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want,
      s"minute drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
  }

  test("streaming DDSketch buckets replay to the batch bucket table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dd")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = StreamJobs.readEvents(spark, dir.toString)
    val got = StreamJobs.runToMemory(
      StreamJobs.ddValueBuckets(stream), "dd_test", OutputMode.Complete())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.ext.Sketches.ddBucketCounts(
      Events.loadEvents(spark, sf001), "event_type", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"bucket drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
  }

  test("transformWithState running totals replay to the batch cumsum") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tws")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = StreamJobs.readEvents(spark, dir.toString)
    // RocksDB is a session-wide choice the builder refuses to make for
    // us; scope it to this test and restore the previous provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    val got =
      try StreamJobs.runToMemory(
        StreamJobs.runningTotals(stream), "tws_test", OutputMode.Append())
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val want = Events.loadEvents(spark, sf001)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("running_n"),
        sum(col("cents")).over(w).as("running_cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want,
      s"drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
  }

  test("streaming CMS counters replay to the batch counter table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cms")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = StreamJobs.readEvents(spark, dir.toString)
    val got = StreamJobs.runToMemory(
      StreamJobs.cmsTypeCounters(stream), "cms_test", OutputMode.Complete())
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.ext.Sketches.cmsCounters(
      Events.loadEvents(spark, sf001), "event_type")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"counter drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
  }

  test("event-time timeouts close sessions as the watermark advances") {
    // stage the fixture as TWO time-ordered files so AvailableNow +
    // maxFilesPerTrigger=1 runs two micro-batches: batch 1 sets the
    // watermark, batch 2's processing times out batch-1 sessions
    val ev = Events.loadEvents(spark, sf001)
      .select(col("user_id"), col("ts")).orderBy("ts").cache()
    val n = ev.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-etimeout")
    val rows = ev.collect()
    val (first, second) = rows.splitAt((n / 2).toInt)
    import scala.jdk.CollectionConverters._
    def write(part: Array[org.apache.spark.sql.Row], name: String): Unit =
      spark.createDataFrame(part.toSeq.asJava, ev.schema)
        .coalesce(1).write.parquet(s"$dir/$name")
    write(first, "part0")
    write(second, "part1")

    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part*")
    // the state path carries java.sql.Timestamp (ms); compare the batch
    // µs session starts at the same ms granularity
    val got = StreamJobs.runToMemory(
      StreamJobs.sessionizeEventTime(stream).toDF(),
      "etimeout_test", OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getInt(2)))
      .toSet

    assert(got.nonEmpty, "gap cuts and timeouts must emit sessions")
    // every emitted session must be a REAL session: identical to one
    // the batch session_window operator finds on the same data
    val want = Events.sessions(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2).toInt))
      .toSet
    val bogus = got -- want
    assert(bogus.isEmpty,
      s"${bogus.size} emitted sessions not found in batch, e.g. ${bogus.take(3)}")
  }

  test("streaming sliding counts equal the batch sliding aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sliding")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val got = StreamJobs.runToMemory(
      StreamJobs.slidingCounts(StreamJobs.readEvents(spark, dir.toString)),
      "sliding_test", OutputMode.Complete())
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    val want = Events.sliding(spark, sf001)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(got == want,
      s"stream/batch sliding drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
  }

  test("stream-stream interval join equals the batch join on full replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssjoin")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = StreamJobs.readEvents(spark, dir.toString)
    val got = StreamJobs.runToMemory(
      StreamJobs.clickViewJoin(stream), "ssjoin_test", OutputMode.Append())
      .select(col("view_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = Events.loadEvents(spark, sf001)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val want = views.join(clicks,
      col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("view_ts"))
      .select(col("view_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(want.nonEmpty, "fixture must produce click-view pairs")
    assert(got == want,
      s"stream/batch join drift: missing=${(want diff got).take(3)} extra=${(got diff want).take(3)}")
  }

  test("stream-static dim join equals the batch join, holds no join state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssdim")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    import spark.implicits._
    val dim = Seq(("click", 1.0), ("view", 0.5), ("purchase", 10.0),
      ("signup", 5.0), ("logout", 0.1)).toDF("etype", "weight")
    val stream = StreamJobs.readEvents(spark, dir.toString)
    val enriched = StreamJobs.enrichWithDim(stream, dim, "etype")
      .select(col("event_id"), col("weight"))
    val (res, query) = StreamJobs.runToMemoryWithQuery(
      enriched, "ssdim_test", OutputMode.Append())
    val got = res.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // the property the name promises: the broadcast dim join buffers
    // NOTHING in the state store (contrast the stream-stream join)
    val stateRows = query.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsTotal).sum
    assert(stateRows == 0,
      s"stream-static join must hold no state, found $stateRows rows")
    val want = Events.loadEvents(spark, sf001)
      .join(dim, col("event_type") === col("etype"))
      .select(col("event_id"), col("weight"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(want.nonEmpty && got == want,
      s"stream/batch dim-join drift: ${(want diff got).take(3)} vs ${(got diff want).take(3)}")
  }

  test("foreachBatch upsert sink converges to last-write-wins state") {
    val root = java.nio.file.Files.createTempDirectory("graft-upsert")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType)))
    // batch 0 seeds keys 1-4; batch 1 updates 2,3 (3 twice: in-batch
    // dedup must keep seq=12) and inserts 5
    Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L), (4L, "d", 4L))
      .toDF("k", "v", "seq").coalesce(1)
      .write.parquet(s"$root/in/b0")
    Seq((2L, "B", 10L), (3L, "c1", 11L), (3L, "C", 12L), (5L, "e", 13L))
      .toDF("k", "v", "seq").coalesce(1)
      .write.parquet(s"$root/in/b1")
    val target = s"$root/target"
    val q = StreamJobs.upsertSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in/b*"),
      "k", "seq", target)
    q.awaitTermination()
    val got = spark.read.parquet(target)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "C"), (4L, "d"), (5L, "e")),
      s"merged state drift: $got")
  }

  test("checkpointed upsert resumes from offsets, reprocessing nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType)))
    val target = s"$root/target"
    val ckpt = s"$root/ckpt"
    def runOnce(): Long = {
      val q = StreamJobs.upsertSink(
        spark.readStream.schema(schema).parquet(s"$root/in"),
        "k", "seq", target, Some(ckpt))
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "v", "seq")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    assert(runOnce() == 2L)
    Seq((2L, "B", 10L), (3L, "c", 11L)).toDF("k", "v", "seq")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    // the resumed query must ingest ONLY the new file's rows
    assert(runOnce() == 2L, "restart must not reprocess committed offsets")
    val got = spark.read.parquet(target)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("flatMapGroupsWithState sessionization matches session_window totals") {
    val ev = Events.loadEvents(spark, sf001)
      .select(col("user_id"), col("ts")).as[StreamJobs.Event]
    val sessions = StreamJobs.sessionize(ev).collect()
    val batch = Events.sessions(spark, sf001).collect()
    assert(sessions.length == batch.length,
      s"session count drift: state=${sessions.length} window=${batch.length}")
    val gotTotal = sessions.map(_.n_events.toLong).sum
    val wantTotal = batch.map(_.getAs[Long]("n_events")).sum
    assert(gotTotal == wantTotal)
  }

  test("streaming Gram drift monitor replays to the batch q265 snapshots") {
    import graft.ext.Similarity
    // stage the fixture as ONE FILE PER INGEST BATCH (the batch
    // query's vec_id ranges), mtimes ascending so the file source
    // replays them in ingest order, one micro-batch each
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    val maxId = embs.agg(max(col("vec_id"))).head().getLong(0)
    val width = (maxId + Similarity.DriftBatches) / Similarity.DriftBatches
    val dir = java.nio.file.Files.createTempDirectory("graft-gramdrift")
    (0 until Similarity.DriftBatches).foreach { b =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-gd-$b")
      embs.filter(expr(s"vec_id div $width") === b)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val single =
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala
            .find(_.toString.endsWith(".parquet")).get
        } finally listing.close()
      val dest = dir.resolve(f"batch$b%03d.parquet")
      java.nio.file.Files.copy(single, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 10000L))
    }
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-gd-out").toString + "/snapshots"
    val q = StreamJobs.gramDriftMonitor(
      StreamJobs.readEmbeddings(spark, dir.toString), outPath)
    q.awaitTermination()
    val got = spark.read.parquet(outPath)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    val want = Similarity.gramDrift(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    // EXACT equality, batch ids included: both faces fold the same
    // integer buffers through the same snapshot kernel and rounding
    assert(got == want,
      s"drift replay drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
  }

  test("streaming rotation drift monitor replays to the batch q267 snapshots") {
    import graft.ext.Similarity
    // same staging as the q265 replay: one file per ingest batch,
    // mtimes ascending, one micro-batch each — so the streaming
    // predecessor chain aligns with the batch query's snapshot axis
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    val maxId = embs.agg(max(col("vec_id"))).head().getLong(0)
    val width = (maxId + Similarity.DriftBatches) / Similarity.DriftBatches
    val dir = java.nio.file.Files.createTempDirectory("graft-rotdrift")
    (0 until Similarity.DriftBatches).foreach { b =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-rd-$b")
      embs.filter(expr(s"vec_id div $width") === b)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val single =
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala
            .find(_.toString.endsWith(".parquet")).get
        } finally listing.close()
      val dest = dir.resolve(f"batch$b%03d.parquet")
      java.nio.file.Files.copy(single, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 10000L))
    }
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-rd-out").toString + "/snapshots"
    val q = StreamJobs.rotationDriftMonitor(
      StreamJobs.readEmbeddings(spark, dir.toString), outPath)
    q.awaitTermination()
    // NULL-safe extraction: rotation_stability is NULL at the first
    // snapshot by definition (no predecessor) in BOTH faces
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val got = spark.read.parquet(outPath).collect().map(key).toSet
    val want = Similarity.rotationDrift(spark, sf001).collect().map(key).toSet
    assert(got == want,
      s"rotation replay drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
  }

  test("streaming refresh monitor replays to the batch q274 rows") {
    import graft.ext.Similarity
    // the planted rotation-event fixture (RoundElevenOpsSpec): staged
    // one file per ingest batch so the streaming refresh walks the
    // same snapshot axis — version 2 must derive at the SAME
    // micro-batch the batch face refreshes at, and every
    // (batch, component) row must match exactly
    val dim = Similarity.Dim
    val healthy = (0 until 80).map { i =>
      val v = Array.tabulate(dim)(d =>
        ((((i * 31 + d * 17) % 19) - 9) / 9.0).toFloat)
      v(0) = v(0) * 4.0f
      (i.toLong, v.toSeq, 0)
    }
    val rotated = (80 until 160).map { i =>
      val v = Array.fill(dim)(0.0f); v(1) = 50.0f
      (i.toLong, v.toSeq, 0)
    }
    val embs = (healthy ++ rotated)
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"),
        col("label"))
    val maxId = 159L
    val width = (maxId + Similarity.DriftBatches) / Similarity.DriftBatches
    val dir = java.nio.file.Files.createTempDirectory("graft-refresh")
    (0 until Similarity.DriftBatches).foreach { b =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-rf-$b")
      embs.filter(expr(s"vec_id div $width") === b)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val single =
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala
            .find(_.toString.endsWith(".parquet")).get
        } finally listing.close()
      val dest = dir.resolve(f"batch$b%03d.parquet")
      java.nio.file.Files.copy(single, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 10000L))
    }
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-rf-out").toString + "/models"
    val q = StreamJobs.refreshMonitor(
      StreamJobs.readEmbeddings(spark, dir.toString), outPath)
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)),
      r.getBoolean(4), r.getLong(5),
      if (r.isNullAt(6)) None else Some(r.getDouble(6)),
      r.getBoolean(7))
    val got = spark.read.parquet(outPath).collect().map(key).toSet
    val want = Similarity.modelRefreshOn(spark, embs)
      .collect().map(key).toSet
    assert(got == want,
      s"refresh replay drift: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
    // and the lifecycle actually exercised both versions
    assert(want.map(_._3) == Set(1L, 2L), "fixture must span two versions")
  }

  test("drift monitors treat a re-delivered micro-batch as a no-op") {
    // foreachBatch is at-least-once: a retried batch id must neither
    // re-merge the cumulative buffer nor append duplicate snapshot
    // rows (round-10 advisor). Drive the extracted handlers directly
    // with a duplicate id and assert buffer + output are unchanged.
    import graft.ext.Similarity
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    val b0 = embs.filter(col("vec_id") < 50)
    val b1 = embs.filter(col("vec_id") >= 50 && col("vec_id") < 100)

    val gOut = java.nio.file.Files
      .createTempDirectory("graft-gd-idem").toString + "/snapshots"
    val gh = new StreamJobs.GramMonitorHandler(gOut)
    gh.onBatch(b0, 0L)
    gh.onBatch(b1, 1L)
    val gBuf = gh.cumulative
    gh.onBatch(b1, 1L) // re-delivery
    gh.onBatch(b0, 0L) // stale re-delivery
    assert(gh.cumulative == gBuf,
      "re-delivered batch must not re-merge the Gram buffer")
    val gRows = spark.read.parquet(gOut).collect()
    assert(gRows.length == 2, s"duplicate snapshot rows: ${gRows.length}")
    assert(gRows.map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))

    val rOut = java.nio.file.Files
      .createTempDirectory("graft-rd-idem").toString + "/snapshots"
    val rh = new StreamJobs.RotationMonitorHandler(rOut)
    rh.onBatch(b0, 0L)
    rh.onBatch(b1, 1L)
    val rBuf = rh.cumulative
    rh.onBatch(b1, 1L)
    assert(rh.cumulative == rBuf,
      "re-delivered batch must not re-merge the rotation buffer")
    val rRows = spark.read.parquet(rOut).collect()
    assert(rRows.length == 2, s"duplicate snapshot rows: ${rRows.length}")

    // fresh ids still advance: the guard skips only re-deliveries
    gh.onBatch(embs.filter(col("vec_id") >= 100 && col("vec_id") < 150), 2L)
    assert(Similarity.gramCount(gh.cumulative) >
      Similarity.gramCount(gBuf), "fresh batch id must merge")
  }

  test("streaming index-maintain sink replays to the batch frozen encode") {
    import graft.ext.{IndexArtifact, Similarity}
    // stage the corpus as one file per ingest batch (the q276 axis):
    // the sink encodes each arriving batch under the FROZEN persisted
    // quantizers, so the replayed union must equal one batch
    // encodeUnder pass over the same rows, row for row
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    val maxId = embs.agg(max(col("vec_id"))).head().getLong(0)
    val width = (maxId + Similarity.DriftBatches) / Similarity.DriftBatches
    val dir = java.nio.file.Files.createTempDirectory("graft-idxmaint")
    (0 until Similarity.DriftBatches).foreach { b =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-im-$b")
      embs.filter(expr(s"vec_id div $width") === b)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val single =
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala
            .find(_.toString.endsWith(".parquet")).get
        } finally listing.close()
      val dest = dir.resolve(f"batch$b%03d.parquet")
      java.nio.file.Files.copy(single, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 10000L))
    }
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-im-out").toString + "/encoded"
    val q = StreamJobs.indexMaintainSink(
      StreamJobs.readEmbeddings(spark, dir.toString), sf001, outPath)
    q.awaitTermination()
    val got = spark.read.parquet(outPath)
      .drop("batch_id").collect().map(_.toSeq).toSet
    val (cents, books) = IndexArtifact.loadQuantizers(spark, sf001)
    val want = IndexArtifact.encodeUnder(cents, books,
        Similarity.normalizeFrame(embs))
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"frozen-encode replay drift: got-only=${(got diff want).take(3)} " +
        s"want-only=${(want diff got).take(3)}")
    // every ingest batch landed under its own micro-batch partition
    val bids = spark.read.parquet(outPath)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(bids.length == Similarity.DriftBatches,
      s"one micro-batch per staged file: ${bids.mkString(",")}")

    // at-least-once guard: a re-delivered micro-batch id is a no-op
    val hOut = java.nio.file.Files
      .createTempDirectory("graft-im-idem").toString + "/encoded"
    val h = new StreamJobs.IndexEncodeHandler(cents, books, hOut)
    val b0 = embs.filter(col("vec_id") < 50)
    h.onBatch(b0, 0L)
    h.onBatch(b0, 0L) // re-delivery
    val n = spark.read.parquet(hOut).count()
    h.onBatch(embs.filter(col("vec_id") >= 50 && col("vec_id") < 100), 1L)
    val n2 = spark.read.parquet(hOut).count()
    assert(n2 > n, "fresh batch id must append")
    assert(n == b0.count(),
      s"re-delivered batch must not double-append: $n")

    // cross-RESTART idempotence (round-12 advisor): a fresh handler
    // (lastBid reset, as after a driver death between the write commit
    // and the checkpoint advance) re-delivering an already-landed
    // micro-batch must overwrite its own partition, not double-append
    val h2 = new StreamJobs.IndexEncodeHandler(cents, books, hOut)
    h2.onBatch(embs.filter(col("vec_id") >= 50 && col("vec_id") < 100), 1L)
    assert(spark.read.parquet(hOut).count() == n2,
      "a restarted sink re-delivering a landed batch must be idempotent")
  }

  test("streaming filtered serve replays to the q281 batch arms") {
    import graft.ext.{IndexArtifact, Similarity}
    // the q281 query cohort arrives as TWO micro-batches of query
    // rows; each is served from the persisted artifact, and the
    // replayed union must equal the batch q281 audit row-for-row
    val embs = spark.read.parquet(s"$sf001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-fserve")
    Seq((0L, 4L), (4L, Similarity.NQueries.toLong)).zipWithIndex
      .foreach { case ((lo, hi), b) =>
        val tmp = java.nio.file.Files.createTempDirectory(s"graft-fs-$b")
        embs.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listing = java.nio.file.Files.list(tmp)
        val single =
          try {
            import scala.jdk.CollectionConverters._
            listing.iterator().asScala
              .find(_.toString.endsWith(".parquet")).get
          } finally listing.close()
        val dest = dir.resolve(f"qbatch$b%03d.parquet")
        java.nio.file.Files.copy(single, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime
            .fromMillis(1700000000000L + b * 10000L))
      }
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-fs-out").toString + "/served"
    val q = StreamJobs.filteredServeSink(
      StreamJobs.readEmbeddings(spark, dir.toString), sf001, outPath)
    q.awaitTermination()
    val got = spark.read.parquet(outPath)
      .drop("batch_id").collect().map(_.toSeq).toSet
    val want = IndexArtifact.indexServeFiltered(spark, sf001)
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"streamed filtered serve drifted from the batch arms: " +
        s"got-only=${(got diff want).take(3)} " +
        s"want-only=${(want diff got).take(3)}")
    // one partition per query micro-batch
    val bids = spark.read.parquet(outPath)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(bids.toSeq == Seq(0L, 1L),
      s"each query batch must land under its own partition: " +
        s"${bids.mkString(",")}")
  }
}
