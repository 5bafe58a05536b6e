package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming lift of the batch event analytics (graft.ext
  * .Events): the reference itself is batch-only (SURVEY.md §2.10), so
  * this is north-star surface — `readStream` → watermark → windowed aggs
  * → sink, plus flatMapGroupsWithState for custom session state.
  *
  * The batch and streaming variants share operator semantics by
  * construction: `window()` / `session_window()` are the same Catalyst
  * operators in both modes, so the batch oracles (q18-q20) pin the
  * streaming results too when the stream is replayed to completion.
  */
object StreamJobs {

  /** The events schema as Spark reads it post nanos conversion. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over a DIRECTORY of event parquet files (the
    * file stream source rejects a bare file path — production streams
    * watch directories). The ts physical type follows whatever the
    * generator wrote this round (TIMESTAMP(NANOS) → long behind the
    * legacy flag, or TIMESTAMP(MICROS) → NTZ), so infer the schema from
    * the files already present and normalize exactly like the batch
    * path ([[graft.ext.Events.loadEvents]]). */
  def readEvents(spark: SparkSession, eventsDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val s = spark.readStream.schema(schema).parquet(eventsDir)
    schema("ts").dataType match {
      case LongType => s.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => s.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** The documents schema for file-source streams over the corpus. */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a directory of document parquet files —
    * the ingestion face of the curation pipeline: new crawl shards land
    * as files, the gate below scores them as they arrive. */
  def readDocuments(spark: SparkSession, docsDir: String): DataFrame =
    spark.readStream.schema(documentSchema).parquet(docsDir)

  /** Streaming Gopher gate: the EXACT batch q112 Column graph applied
    * per arriving document — stateless (no watermark, no state store),
    * so Append mode emits each doc's rule flags exactly once and the
    * replay of a static corpus equals the batch result row for row
    * (StreamJobsSpec). At 100 TB/day this is the shape you want:
    * scoring rides the ingest scan, nothing accumulates. */
  def gopherGate(docs: DataFrame): DataFrame =
    graft.ext.TextAnalysis.gopherRulesOn(docs)

  /** Streaming drift monitor: score each arriving micro-batch of
    * documents against a FIXED reference model (vocab + totals trained
    * once on a static corpus via `TextAnalysis.driftVocab`), appending
    * one (batch_id, source, vocab_tokens, kl_divergence) row set per
    * batch — the corpus-health dashboard feed that catches a crawl
    * source drifting mid-ingest, using the EXACT q113 kernel. The
    * reference vocab is pinned once (localCheckpoint) so each batch
    * pays only its own token explode; per-batch state is zero (foreachBatch,
    * no store). Replaying a static corpus as one batch reproduces the
    * batch q113 rows (StreamJobsSpec). */
  def driftMonitor(docsStream: DataFrame, refDocs: DataFrame,
      outPath: String): StreamingQuery = {
    val refToks = graft.ext.TextAnalysis.tokensBySource(refDocs)
    val (vocab, gt, vn) = graft.ext.TextAnalysis.driftVocab(refToks)
    val vocabPinned = vocab.localCheckpoint()
    docsStream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        graft.ext.TextAnalysis
          .driftKl(graft.ext.TextAnalysis.tokensBySource(batch),
            vocabPinned, gt, vn)
          .withColumn("batch_id", lit(bid))
          .write.mode("append").parquet(outPath)
        (): Unit
      }
      .start()
  }

  /** The embeddings schema for file-source streams over the vector
    * corpus. maxFilesPerTrigger=1 so each landing shard is its own
    * micro-batch — the ingest-batch granularity the drift monitor
    * snapshots on. */
  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(embeddingSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Streaming face of batch q265: per arriving micro-batch of
    * embeddings, fold ONE GramMatrix buffer (the only distributed
    * work), merge it into the running buffer — the monitor's ENTIRE
    * state is that one ~2 KB row of exact integers, regardless of how
    * many vectors have flowed — and append one (batch_id,
    * n_vectors_cum, trace_q, effective_rank) snapshot row. Both faces
    * route through [[graft.ext.Similarity.gramSnapshot]] and the same
    * output projection, so a replay whose micro-batches align with
    * the batch query's ingest batches reproduces its rows exactly
    * (StreamJobsSpec pins it); the integer merge is associative, so
    * ANY batching reaches the same final snapshot.
    *
    * At-least-once guard (round-10 advisor): foreachBatch may
    * re-deliver a micro-batch after a sink/commit failure, and a
    * double-merge would permanently inflate the cumulative buffer —
    * every later snapshot wrong, plus duplicate parquet rows. Batch
    * ids are monotone per run, so we track the last merged id and
    * make re-delivery a no-op (the parquet append is retried INSIDE
    * the guarded block, so a retry after a failed write re-merges
    * nothing — `state` is only advanced after the write commits).
    * The monitor's contract is one AvailableNow run per invocation
    * (driver-local state, no checkpoint); resuming a killed run
    * means re-running it over the full input, not restarting. */
  def gramDriftMonitor(embsStream: DataFrame,
      outPath: String): StreamingQuery = {
    val handler = new GramMonitorHandler(outPath)
    embsStream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        handler.onBatch(batch.toDF(), bid)
      }
      .start()
  }

  /** Per-batch handler for [[gramDriftMonitor]], extracted so the
    * at-least-once guard is directly testable (StreamJobsSpec calls
    * `onBatch` with a re-delivered id and asserts the no-op). */
  private[graft] final class GramMonitorHandler(outPath: String) {
    private var state: Seq[Long] = null // one packed Gram buffer (~2 KB)
    private var lastBid: Long = -1L // last batch id merged+written
    private[graft] def cumulative: Seq[Long] = state
    def onBatch(batch: DataFrame, bid: Long): Unit = {
      if (bid <= lastBid) return // re-delivered micro-batch: no-op
      val g = graft.ext.Similarity.quantizedGramOf(batch.sparkSession, batch)
      if (graft.ext.Similarity.gramCount(g) > 0) {
        val merged =
          if (state == null) g
          else graft.ext.Similarity.mergeGram(state, g)
        graft.ext.Similarity.driftSnapshotDf(batch.sparkSession, bid, merged)
          .write.mode("append").parquet(outPath)
        state = merged // commit driver state only after the write
      }
      lastBid = bid
    }
  }

  /** Streaming face of batch q267: per arriving micro-batch of
    * embeddings, fold ONE GramMatrix buffer, merge it into the running
    * cumulative buffer, eigensolve the cumulative on the driver
    * (O(PowerIters·D²), ~0.04 Mflop), and append one (batch_id,
    * n_vectors_cum, rotation_stability, top1_share) snapshot row.
    * State is the ~2 KB integer buffer PLUS the previous snapshot's
    * dominant iterate (D doubles) — the rotation alarm compares
    * exactly the predecessor, never a longer history. Both faces
    * route through [[graft.ext.Similarity.rotationSnapshot]] and the
    * same output projection, so a replay whose micro-batches align
    * with the batch query's ingest batches reproduces its rows
    * exactly (StreamJobsSpec pins it).
    *
    * At-least-once guard (round-10 advisor): same discipline as
    * [[gramDriftMonitor]] — a re-delivered micro-batch id is a no-op,
    * and driver state (buffer + predecessor iterate) is only advanced
    * AFTER the snapshot write commits, so a retry after a failed
    * write re-merges nothing. One AvailableNow run per invocation. */
  def rotationDriftMonitor(embsStream: DataFrame,
      outPath: String): StreamingQuery = {
    val handler = new RotationMonitorHandler(outPath)
    embsStream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        handler.onBatch(batch.toDF(), bid)
      }
      .start()
  }

  /** Streaming face of the q276/q278 FROZEN arm — incremental index
    * maintenance as a `foreachBatch` sink: each arriving micro-batch
    * of embeddings is normalized and assigned+encoded under the
    * PERSISTED quantizers ([[graft.ext.IndexArtifact]]'s centroids +
    * PQ books, collected ONCE at sink construction — fixed
    * codebook-sized state, immutable for the life of the stream), and
    * the (batch_id, vec_id, cid, c0..cM-1) rows append to the encoded
    * sink. This is exactly what a 100 TB serving stack does between
    * retrains: the frozen arm's whole maintenance cost is this
    * map-only batch-sized encode — no Lloyd job, no corpus scan —
    * and q274's refresh trigger decides when the books go stale
    * (q276 prices what that staleness costs).
    *
    * Replay ≡ batch: the encode routes through the SAME
    * [[graft.ext.IndexArtifact.encodeUnder]] kernel the batch face
    * uses, so replaying the arrival files through this sink appends
    * row-for-row the batch frozen-arm encoding of those vectors
    * (StreamJobsSpec pins it). Same at-least-once guard and one
    * AvailableNow-run contract as [[gramDriftMonitor]]. */
  def indexMaintainSink(embsStream: DataFrame, indexSfDir: String,
      outPath: String): StreamingQuery = {
    val spark = embsStream.sparkSession
    graft.ext.IndexArtifact.ensure(spark, indexSfDir)
    val (cents, books) =
      graft.ext.IndexArtifact.loadQuantizers(spark, indexSfDir)
    val handler = new IndexEncodeHandler(cents, books, outPath)
    embsStream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        handler.onBatch(batch.toDF(), bid)
      }
      .start()
  }

  /** Per-batch handler for [[indexMaintainSink]] (testable guard, as
    * the other monitor handlers). The quantizers are immutable, so the
    * ONLY mutable state is the last appended batch id — and unlike the
    * monitor sinks, the write itself is idempotent ACROSS RESTARTS
    * (round-12 advisor): each micro-batch lands as its own
    * `batch_id=` partition via dynamic partition overwrite, so a
    * driver that dies after the commit but before the stream
    * checkpoint advances re-delivers the batch into the same
    * partition instead of double-appending rows into served index
    * state. The in-memory guard remains as the cheap fast path. */
  private[graft] final class IndexEncodeHandler(
      cents: Array[(Long, Seq[Double])],
      books: Seq[Seq[(Long, Seq[Double])]], outPath: String) {
    private var lastBid: Long = -1L
    def onBatch(batch: DataFrame, bid: Long): Unit = {
      if (bid <= lastBid) return // re-delivered micro-batch: no-op
      graft.ext.IndexArtifact
        .encodeUnder(cents, books,
          graft.ext.Similarity.normalizeFrame(batch))
        .withColumn("batch_id", lit(bid))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(outPath)
      lastBid = bid // commit driver state only after the write
    }
  }

  /** Streaming face of q281's filtered serving (round-12 verdict #5):
    * query batches arrive as a stream and each micro-batch is served
    * FROM THE PERSISTED ARTIFACT — the narrow/wide probe protocol,
    * label metadata equi-joined from the base table, exact integer
    * outputs — with the per-batch audit rows landing under the
    * batch's own partition (same cross-restart idempotence as
    * [[IndexEncodeHandler]]). State is nothing but the last batch id:
    * the artifact is resolved once at sink construction ([[graft.ext.
    * IndexArtifact.ensure]]), and each batch's query ids are a
    * bounded collect (serving traffic is the bounded side by
    * contract). Replay ≡ batch: the per-query audit rows are
    * independent, so the union over replayed batches equals q281's
    * batch output row-for-row (StreamJobsSpec pins it). */
  def filteredServeSink(queryStream: DataFrame, indexSfDir: String,
      outPath: String): StreamingQuery = {
    graft.ext.IndexArtifact.ensure(queryStream.sparkSession, indexSfDir)
    val handler = new FilteredServeHandler(indexSfDir, outPath)
    queryStream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        handler.onBatch(batch.toDF(), bid)
      }
      .start()
  }

  /** Per-batch handler for [[filteredServeSink]]. */
  private[graft] final class FilteredServeHandler(indexSfDir: String,
      outPath: String) {
    private var lastBid: Long = -1L
    def onBatch(batch: DataFrame, bid: Long): Unit = {
      if (bid <= lastBid) return // re-delivered micro-batch: no-op
      val ids = batch.select("vec_id").collect().map(_.getLong(0)).toSeq
      if (ids.nonEmpty)
        graft.ext.IndexArtifact
          .indexServeFilteredOn(batch.sparkSession, indexSfDir,
            col("vec_id").isin(ids: _*))
          .withColumn("batch_id", lit(bid))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)
      lastBid = bid // commit driver state only after the write
    }
  }

  /** Streaming face of batch q274: per arriving micro-batch, fold ONE
    * GramMatrix buffer, merge it into the cumulative, run the shared
    * [[graft.ext.Similarity.refreshStep]] against the held active
    * model — re-deriving the versioned model ONLY when the staleness
    * gate trips — and append that snapshot's (batch, component) rows.
    * State = the ~2 KB integer buffer + the active model (version,
    * D-double dominant, K (λ, retained) pairs ≈ 600 bytes): executing
    * the refresh costs the stream nothing beyond the arithmetic the
    * monitor already does. Same at-least-once guard and one-run
    * contract as [[gramDriftMonitor]]; replay with aligned batches
    * reproduces batch q274's rows exactly (StreamJobsSpec pins it,
    * including that the refresh fires at the planted event and
    * post-refresh stability recovers). */
  def refreshMonitor(embsStream: DataFrame,
      outPath: String): StreamingQuery = {
    val handler = new RefreshMonitorHandler(outPath)
    embsStream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        handler.onBatch(batch.toDF(), bid)
      }
      .start()
  }

  /** Per-batch handler for [[refreshMonitor]] (testable guard, as the
    * other monitor handlers). */
  private[graft] final class RefreshMonitorHandler(outPath: String) {
    private var state: Seq[Long] = null
    private var active: Option[(Long, Array[Double],
      Seq[(Double, Boolean)])] = None
    private var lastBid: Long = -1L
    def onBatch(batch: DataFrame, bid: Long): Unit = {
      if (bid <= lastBid) return // re-delivered micro-batch: no-op
      val g = graft.ext.Similarity.quantizedGramOf(batch.sparkSession, batch)
      if (graft.ext.Similarity.gramCount(g) > 0) {
        val merged =
          if (state == null) g
          else graft.ext.Similarity.mergeGram(state, g)
        val (rows, next) =
          graft.ext.Similarity.refreshStep(bid, merged, active)
        graft.ext.Similarity.refreshRowsDf(batch.sparkSession, rows)
          .write.mode("append").parquet(outPath)
        state = merged // commit driver state only after the write
        active = Some(next)
      }
      lastBid = bid
    }
  }

  /** Per-batch handler for [[rotationDriftMonitor]], extracted so the
    * at-least-once guard is directly testable (StreamJobsSpec calls
    * `onBatch` with a re-delivered id and asserts the no-op). */
  private[graft] final class RotationMonitorHandler(outPath: String) {
    private var state: Seq[Long] = null // one packed Gram buffer (~2 KB)
    private var prev: Option[Array[Double]] = None // predecessor iterate
    private var lastBid: Long = -1L // last batch id merged+written
    private[graft] def cumulative: Seq[Long] = state
    def onBatch(batch: DataFrame, bid: Long): Unit = {
      if (bid <= lastBid) return // re-delivered micro-batch: no-op
      val g = graft.ext.Similarity.quantizedGramOf(batch.sparkSession, batch)
      if (graft.ext.Similarity.gramCount(g) > 0) {
        val merged =
          if (state == null) g
          else graft.ext.Similarity.mergeGram(state, g)
        val (n, v, stab, share) =
          graft.ext.Similarity.rotationSnapshot(merged, prev)
        graft.ext.Similarity
          .rotationSnapshotDf(batch.sparkSession, bid, n, stab, share)
          .write.mode("append").parquet(outPath)
        state = merged // commit driver state only after the write
        prev = Some(v)
      }
      lastBid = bid
    }
  }

  /** Tumbling 1-hour counts per event type with a 2-hour watermark:
    * late data beyond the watermark is dropped, state is bounded. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Tumbling per-minute arrival counts — the live input of q155's
    * volume-anomaly fence: the batch job learns (μ, σ) per type from
    * these counts, the stream emits each minute's count as its window
    * closes, and the fence compare is a stateless map over this
    * output. State = one open window per (type, minute) inside the
    * watermark. Replayed to completion it equals the batch per-minute
    * table exactly (StreamJobsSpec pins it). */
  def minuteCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute").as("w"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(col("w.start").as("minute"), col("event_type"), col("c"))

  /** Sliding 1-hour windows every 15 minutes (4 open windows per event):
    * the streaming face of Events.sliding. State holds size/slide = 4
    * windows per key until the watermark closes them — the multiplier a
    * capacity plan must budget for sliding (vs 1 for tumbling). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))

  /** Run a streaming aggregation to completion against a memory sink and
    * return the materialized result — the local test harness shape. */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame =
    runToMemoryWithQuery(df, name, mode)._1

  /** As runToMemory, but also hands back the finished query so specs can
    * assert on its progress (e.g. state-store row counts). */
  def runToMemoryWithQuery(df: DataFrame, name: String,
                           mode: OutputMode): (DataFrame, StreamingQuery) = {
    val q: StreamingQuery = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (df.sparkSession.table(name), q)
  }

  /** Spark 4 `transformWithState` processor: running per-user event
    * count and cents total, emitting one row per event. ValueState is
    * the arbitrary-state tier ABOVE flatMapGroupsWithState — typed
    * named states, timers, TTL — and requires the RocksDB state store
    * (state lives off-heap on disk, the only store that holds 100 TB-
    * stream state). Rows are sorted (ts, event_id) inside the handler:
    * within a micro-batch arrival order is not a contract. */
  private class RunningTotalsProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Long),
        (Long, Long, Long, Long)] {
    @transient private var nState: ValueState[Long] = _
    @transient private var centsState: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState[Long](
        "n", Encoders.scalaLong, TTLConfig.NONE)
      centsState = getHandle.getValueState[Long](
        "cents", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var n = if (nState.exists()) nState.get() else 0L
      var cents = if (centsState.exists()) centsState.get() else 0L
      val out = rows.toArray.sortBy(r => (r._2, r._3)).map {
        case (_, _, eventId, c) =>
          n += 1; cents += c
          (uid, eventId, n, cents)
      }
      nState.update(n); centsState.update(cents)
      out.iterator
    }
  }

  /** Running (n, cents) per user over the stream via transformWithState;
    * spec pins full replay equal to the batch cumulative window. */
  def runningTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // transformWithState requires the RocksDB state store. That choice
    // is SESSION-wide, so it belongs at session construction — a query
    // builder silently flipping it would switch the store under every
    // other streaming query in the session. Fail fast instead.
    require(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        .exists(_.contains("RocksDBStateStoreProvider")),
      "transformWithState needs spark.sql.streaming.stateStore.providerClass=" +
        "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider set at session construction")
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), floor(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "event_id", "running_n", "running_cents")
  }

  /** Live distinct-user counting via the portable HLL's register table
    * (graft.ext.Sketches): a plain streaming groupBy-MAX over
    * (event_type, bucket), so state is FIXED at |types|·256 rows no
    * matter how many events or users flow through — the streaming
    * distinct-count shape that never grows. Registers are monotone
    * (MAX), so Update mode emits only buckets that actually rose;
    * replayed to completion the table equals the batch registers
    * bit-for-bit and feeds the same Sketches.hllEstimate. */
  def hllUserRegisters(events: DataFrame): DataFrame =
    graft.ext.Sketches.hllRegisters(events, "event_type", "user_id")

  /** Live event-type frequency sketch: the count-min counter table as a
    * streaming groupBy-SUM — d·w rows of state for per-key frequency
    * estimates over an unbounded stream (the heavy-hitter monitor
    * shape). Replayed to completion it equals the batch counters. */
  def cmsTypeCounters(events: DataFrame): DataFrame =
    graft.ext.Sketches.cmsCounters(events, "event_type")

  /** Live classifier-vs-gate calibration monitor (q224's streaming
    * face): both scores are row-local functions of the text column, so
    * the whole monitor is one stateless projection plus a streaming
    * groupBy whose state is FIXED at 10 decile-bin rows no matter how
    * many documents flow through — the drift alarm a curation pipeline
    * keeps running after it swaps the rule gate for the cheap
    * classifier. Replayed to completion the bins equal the batch
    * kernel bit-for-bit. */
  def calibrationBins(docs: DataFrame): DataFrame =
    graft.ext.TextAnalysis.calibrationBinsOn(docs)

  /** Live daily-conversion registers (q241's streaming face): exact
    * per-(day, user) distinct state is unbounded on a stream, so the
    * monitor keeps the portable HLL register table instead, keyed by
    * (day | population) — every event feeds the ACTIVE population,
    * purchases also feed PURCH (a row-local explode, no second scan).
    * State is FIXED at 2 · days · 256 register rows — bounded by
    * elapsed calendar, never by user or event volume — and the
    * registers are monotone MAX, so Update mode emits only risers.
    * Replayed to completion the table equals the identical batch
    * kernel bit-for-bit; the Wilson read-side (q241's formula over
    * the two estimates) runs on whatever snapshot the dashboard
    * pulls. Works on a batch frame too — the spec pins replay ≡
    * batch through this one definition. */
  def conversionRegisters(events: DataFrame): DataFrame = {
    val tagged = events
      .select(to_date(col("ts")).as("day"), col("user_id"),
        explode(when(col("event_type") === "purchase",
            array(lit("active"), lit("purch")))
          .otherwise(array(lit("active")))).as("pop"))
      .select(concat(col("day").cast("string"), lit("|"), col("pop"))
        .as("day_pop"), col("user_id"))
    graft.ext.Sketches.hllRegisters(tagged, "day_pop", "user_id")
  }

  /** Live value-quantile sketch: the q134 DDSketch bucket table as a
    * streaming groupBy-SUM — |types|·(64·octaves) rows of state for
    * bounded-relative-error quantiles over an unbounded stream (the
    * latency/value-percentile monitor shape). Replayed to completion
    * it equals the batch bucket table bit-for-bit and feeds the same
    * rank-selection tail. */
  def ddValueBuckets(events: DataFrame): DataFrame =
    graft.ext.Sketches.ddBucketCounts(events, "event_type", "value")

  /** Streaming exact-dedup: drops repeats of `event_id` arriving within
    * the watermark horizon — the streaming face of Dedup.exact. State is
    * bounded BY the watermark (dropDuplicatesWithinWatermark evicts ids
    * once they age out), which is what makes this viable on an
    * unbounded 100 TB/day stream where plain dropDuplicates would grow
    * state forever. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked STREAM-STREAM interval join: every view pairs with the
    * same user's clicks from the preceding hour. The time-bound condition
    * plus watermarks on BOTH sides is what lets Spark evict buffered rows
    * — without them the join state grows with the stream and a 100 TB/day
    * feed OOMs. A view can match many clicks (and vice versa); unmatched
    * rows drop (inner join). Batch-replayed to completion this equals the
    * identical batch join, which is how the spec pins it. */
  def clickViewJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "2 hours")
    views.join(clicks,
      col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("view_ts"))
      .select(col("view_id"), col("v_user").as("user_id"),
        col("click_id"), col("view_ts"), col("click_ts"))
  }

  /** Stream–static join: enrich the event stream with a static (batch)
    * dimension. The static side needs NO watermark and holds NO join
    * state — Spark broadcasts it per micro-batch and the stream probes
    * it map-side, so a 100 TB/day stream joins a dimension table at
    * zero state cost (contrast clickViewJoin, where both sides buffer).
    * The classic fact-enrichment shape lifted to streaming; equals the
    * identical batch join on full replay, which is how the spec pins
    * it. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    dimKey: String): DataFrame = {
    // rename the dim key before joining so a dim key that shares its
    // name with a stream column can't make drop() remove both
    val d = dim.withColumnRenamed(dimKey, "__dim_key")
    events.join(broadcast(d), events("event_type") === d("__dim_key"))
      .drop("__dim_key")
  }

  /** Streaming SCD-1 upsert sink via foreachBatch: each micro-batch
    * merges into the parquet target by key — existing rows not in the
    * batch survive, batch rows replace matches (last batch wins). This
    * is the streaming lift of Etl.scd1Upsert and the incremental
    * alternative to the reference's daily truncate-reload: a 100 TB
    * target absorbs a 10 GB/h update stream without rewriting history.
    *
    * Parquet has no transactional MERGE, so the swap is
    * write-new-then-rename (crash between delete and rename loses the
    * target — production would sit a transactional table format such
    * as an Iceberg/Delta-style log over the same merge plan; the
    * foreachBatch merge itself is format-agnostic). Batches arrive
    * with duplicate keys collapsed last-write-wins BEFORE the merge so
    * one micro-batch containing two updates to a key stays
    * deterministic. */
  def upsertSink(updates: DataFrame, key: String, orderCol: String,
      targetPath: String, checkpoint: Option[String] = None): StreamingQuery = {
    val writer = updates.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
    // source offsets + batch ids persist across restarts: a resumed query
    // reprocesses nothing already committed (and the merge is idempotent
    // by key for the at-least-once window around a crash)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        import org.apache.hadoop.fs.Path
        val fs = new Path(targetPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // collapse in-batch duplicates: keep the row with max orderCol
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(key).orderBy(col(orderCol).desc)
        // persist: the merge references the batch twice (anti-join keys
        // + union payload) — without this the micro-batch source is
        // scanned twice per trigger
        val dedup = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .persist()
        // no broadcast hint: a catch-up batch (restart over a backlog)
        // can carry unbounded keys — let the planner pick broadcast vs
        // shuffle from the batch's actual size
        val merged =
          if (fs.exists(new Path(targetPath)))
            spark.read.parquet(targetPath)
              .join(dedup.select(col(key)), Seq(key), "left_anti")
              .unionByName(dedup)
          else dedup
        val tmp = new Path(targetPath + ".tmp")
        try merged.write.mode("overwrite").parquet(tmp.toString)
        finally dedup.unpersist()
        // Hadoop FS signals failure by RETURNING false — an unchecked
        // swap would silently keep serving the stale target
        val target = new Path(targetPath)
        if (fs.exists(target) && !fs.delete(target, true))
          throw new java.io.IOException(s"could not delete $targetPath for swap")
        if (!fs.rename(tmp, target))
          throw new java.io.IOException(s"could not rename $tmp to $targetPath")
        (): Unit
      }
      .start()
  }

  // --- custom state: sessionization via flatMapGroupsWithState ---

  final case class Event(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Int)

  val GapMs: Long = 30 * 60 * 1000L

  /** Shared gap-cut fold: feed sorted events through the running
    * session state, emitting every session closed by a >= gap break.
    * Returns the emissions plus the still-open trailing session. */
  private def cutSessions(uid: Long, sorted: Seq[Event],
      init: Option[SessionState])
      : (Seq[SessionOut], Option[SessionState]) = {
    val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
    var st = init.orNull
    sorted.foreach { e =>
      val t = e.ts.getTime
      st match {
        case null => st = SessionState(t, t, 1)
        case s if t - s.last >= GapMs =>
          out += SessionOut(uid, new java.sql.Timestamp(s.start), s.n)
          st = SessionState(t, t, 1)
        case s => st = SessionState(s.start, t, s.n + 1)
      }
    }
    (out.toSeq, Option(st))
  }

  /** The production-shaped sessionizer: EVENT-TIME TIMEOUTS close a
    * session once the watermark passes last+gap — no end-of-stream
    * flush needed, state is evicted as the watermark advances, which
    * is what bounds state on an unbounded stream. In-batch gap cuts
    * emit immediately; the final open session per user flushes via
    * timeout when later batches move the watermark past it. */
  def sessionizeEventTime(events: DataFrame): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), col("ts")).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: the session can no longer grow
            // (a group with new data in this batch is never timed out)
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, new java.sql.Timestamp(s.start), s.n))
          } else {
            val (out, open) = cutSessions(uid,
              it.toSeq.sortBy(_.ts.getTime), state.getOption)
            open.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.last + GapMs)
            }
            out.iterator
          }
      }
  }

  /** Streaming-shaped session assembly with explicit state: emits a
    * session when a gap >= 30min arrives (or at timeout in a real
    * stream). Works identically over a batch Dataset via mapGroups in
    * tests; here the streaming signature. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          // File replay delivers a group's events in one call; sort by ts
          // and cut on gaps, then flush the trailing open session (the
          // bounded-replay analogue of sessionizeEventTime's timeout).
          val (out, open) = cutSessions(uid,
            it.toSeq.sortBy(_.ts.getTime), state.getOption)
          state.remove()
          (out ++ open.map(st =>
            SessionOut(uid, new java.sql.Timestamp(st.start), st.n))).iterator
      }
  }
}
