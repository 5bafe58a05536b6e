package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream analytics over the `events` table, batch-first with the
  * same operators Structured Streaming uses (`window`, `session_window`),
  * so the identical code lifts to `readStream` + watermark (see
  * graft.streaming.StreamJobs and its spec).
  *
  * Scale notes: tumbling/sliding windows are pure groupBy aggregations —
  * partial aggregation map-side, one shuffle on (window, type). Sliding
  * windows multiply rows by (size/slide); that fan-out happens inside the
  * window operator, not as a stored copy. Session windows shuffle by user
  * then merge overlapping gaps per key — the classic mapGroups shape.
  */
object Events {

  /** The events fixture with `ts` as a session-TZ µs timestamp:
    * [[Tables.load]] reads it through the declared TIMESTAMP_NTZ, and
    * the NTZ→LTZ cast is value-preserving under the UTC session TZ
    * every graft entrypoint pins. */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))

  /** q18 — tumbling 1-hour windows per event_type via window(). */
  def tumbling(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    ev.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(Tables.money(col("value"))).as("v_dec"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("v_dec").cast("double").as("total_value"))
      .orderBy("window_start", "event_type")
  }

  // make_timestamp(epoch_us(..)) pins every oracle timestamp to µs
  // precision — the fixture column is TIMESTAMP_NS on the DuckDB side.
  val tumblingSql: String =
    """SELECT make_timestamp(epoch_us(date_trunc('hour', ts))) AS window_start, event_type,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** q19 — sliding 1-hour windows every 15 minutes via window(). The
    * oracle reconstructs the same fan-out with generate_series offsets. */
  def sliding(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    ev.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))
      .orderBy("window_start")
  }

  // Every event lands in exactly size/slide = 4 windows: starts at
  // floor(t/15min)*15min - k*15min for k in 0..3 (epoch-aligned like
  // Spark's window()); make_timestamp keeps the naive-UTC type Spark
  // writes to parquet.
  val slidingSql: String =
    """WITH slid AS (
      |  SELECT make_timestamp((epoch_us(e.ts) // 900000000) * 900000000
      |                        - k.k * 900000000) AS window_start
      |  FROM events e, generate_series(0, 3) AS k(k)
      |)
      |SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM slid GROUP BY 1 ORDER BY window_start""".stripMargin

  /** q20 — gap-based sessionization (30-minute inactivity) per user via
    * session_window(); the oracle rebuilds sessions with the lag +
    * running-flag-sum idiom. */
  def sessions(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  val sessionsSql: String =
    """WITH marked AS (
      |  -- >= not >: Spark session windows are [start, last+gap) with an
      |  -- EXCLUSIVE end, so an event exactly gap after the last one
      |  -- starts a new session.
      |  SELECT user_id, ts,
      |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                   >= INTERVAL 30 MINUTE
      |              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |), grp AS (
      |  SELECT user_id, ts,
      |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |             ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, make_timestamp(epoch_us(MIN(ts))) AS session_start,
      |       CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM grp GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** q36 — semi-structured props: typed JSON extraction via `from_json`
    * (a codegen'd projection with an explicit schema — no per-row UDF,
    * no schema inference pass) rolled up per event type. avg derives
    * from exact integer SUM/COUNT so the double division happens once,
    * identically in both engines. */
  def propsRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    ev.select(col("event_type"),
        from_json(col("props"), lit("k INT")).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .select(col("event_type"), col("n_events"), col("sum_k"),
        (col("sum_k").cast("double") / col("n_events").cast("double")).as("avg_k"),
        col("min_k"), col("max_k"))
      .orderBy("event_type")
  }

  val propsRollupSql: String =
    """WITH p AS (
      |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
      |  FROM events)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(k) AS BIGINT) AS sum_k,
      |       CAST(SUM(k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_k,
      |       MIN(k) AS min_k, MAX(k) AS max_k
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q38 — as-of join: attach to every `view` event the most recent
    * `click` by the same user at or before it. Spark has no native ASOF
    * operator, so this composes built-ins the scalable way: union the
    * two (tagged) streams and fill the click id forward with a
    * `last(..., ignoreNulls)` running window per user — one shuffle on
    * user_id, no range join, no per-view probe. Clicks pre-aggregate to
    * one row per (user, ts) (max event_id) so tie-breaks are total.
    * The DuckDB oracle uses its NATIVE `ASOF LEFT JOIN` — a genuinely
    * independent algorithm arriving at the same rows. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
    // tag 0 sorts clicks before same-timestamp views: "at or before"
    val tagged = clicks
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        col("click_id"), lit(null).cast("long").as("view_id"))
      .union(views.select(col("user_id"), col("ts"), lit(1).as("tag"),
        lit(null).cast("long").as("click_id"), col("view_id")))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("view_id").isNotNull)
      .select(col("view_id").as("view_event_id"), col("user_id"),
        col("asof_click_id"))
      .orderBy("view_event_id")
  }

  /** The cogroup-tier as-of join: the same semantics as q38, but as the
    * per-key merge a native engine would run — `cogroup` shuffles each
    * side ONCE on user_id and hands both iterators to a two-pointer
    * merge (clicks sorted, views sorted, advance in lockstep) with O(1)
    * state beyond the sorted buffers. This is the shape to reach for
    * when the union+window trick can't express the semantics (e.g.
    * per-pair custom logic); EventsSpec pins it row-equal to q38.
    * At 100 TB: two co-partitioned shuffles, no window state. */
  def asofJoinCogroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = loadEvents(spark, sfDir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id")).as[(Long, Long, Long)]
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id")).as[(Long, Long, Long)]
    views.groupByKey(_._1).cogroup(clicks.groupByKey(_._1)) {
      (uid, vs, cs) =>
        // per-click dedup to max event_id at the same ts (q38's tie rule)
        val cl = cs.toArray.groupBy(_._2).view
          .mapValues(_.map(_._3).max).toArray.sortBy(_._1)
        val vo = vs.toArray.sortBy(v => (v._2, v._3))
        var i = 0
        var lastClick: java.lang.Long = null
        vo.iterator.map { case (_, vts, vid) =>
          while (i < cl.length && cl(i)._1 <= vts) {
            lastClick = cl(i)._2; i += 1
          }
          (vid, uid, Option(lastClick).map(Long.unbox))
        }
    }.toDF("view_event_id", "user_id", "asof_click_id")
      .orderBy("view_event_id")
  }

  /** q40 — per-user event-to-event deltas via LAG over a PARTITIONED
    * window (each user's history sorts inside its own partition — no
    * global window, scales with user count): seconds since the previous
    * event and the value change, the raw features for churn/velocity
    * models. Ordering is total ((ts, event_id)) so ties are stable. */
  def userDeltas(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.select(col("event_id"), col("user_id"), col("ts"), col("value"),
        lag(col("ts"), 1).over(w).as("prev_ts"),
        lag(col("value"), 1).over(w).as("prev_value"))
      .select(col("event_id"), col("user_id"),
        ((unix_micros(col("ts")) - unix_micros(col("prev_ts"))).cast("double")
          / 1e6).as("gap_s"),
        (col("value") - col("prev_value")).as("value_delta"))
      .orderBy("event_id")
  }

  val userDeltasSql: String =
    """WITH d AS (
      |  SELECT event_id, user_id, ts, value,
      |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
      |         LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
      |  FROM events)
      |SELECT event_id, user_id,
      |       CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE) / 1e6 AS gap_s,
      |       value - prev_value AS value_delta
      |FROM d ORDER BY event_id""".stripMargin

  /** q71 — LEAD + a ROWS-frame moving sum, completing the window-frame
    * family next to q40's LAG and q58's RANGE frame (SURVEY.md §2.6:
    * the reference has only an unpartitioned RANK). Per user-ordered
    * event: the next event's type, the gap to it, and the moving sum
    * of the last 3 values. The frame sum runs in exact DECIMAL — a
    * sliding double sum would make the result depend on how each
    * engine slides the frame (incremental subtract vs segment-tree
    * re-sum). One shuffle on user_id serves all three functions. */
  def userNextWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val frame = w.rowsBetween(-2, 0)
    ev.select(col("event_id"), col("user_id"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        ((unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
          .cast("double") / 1e6).as("next_gap_s"),
        sum(Tables.money(col("value"))).over(frame)
          .cast("double").as("moving_sum3"))
      .orderBy("event_id")
  }

  val userNextWindowSql: String =
    """SELECT event_id, user_id,
      |       LEAD(event_type) OVER w AS next_type,
      |       CAST(epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS DOUBLE) / 1e6
      |         AS next_gap_s,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
      |         (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         AS moving_sum3
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin

  /** Fixture event-type domain, pinned so `pivot` takes an explicit
    * value list — no extra distinct-collect job, and the output schema
    * is static (the form that scales; an inferred pivot would scan the
    * fact once just to learn the columns). */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** q41 — daily activity pivot: one row per day, one column per event
    * type. groupBy(day).pivot(type, explicit).count — a single shuffle
    * keyed by day with map-side partial counts. */
  def dailyPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    ev.groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .select(col("day") +:
        EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("day")
  }

  val dailyPivotSql: String = {
    val cols = EventTypes.map(t =>
      s"CAST(COUNT(*) FILTER (event_type = '$t') AS BIGINT) AS $t")
      .mkString(",\n       ")
    s"""SELECT CAST(ts AS DATE) AS day,
       |       $cols
       |FROM events GROUP BY 1 ORDER BY day""".stripMargin
  }

  /** q95 — unpivot/melt: q41's wide daily matrix back to long
    * (day, event_type, n) form — the inverse reshape, completing the
    * pivot family. `unpivot` is a Generate-style row fan-out (5 rows
    * per input row here), no shuffle at all on top of the pivot it
    * consumes; zero cells survive the round trip (the pivot
    * materialized them), which is exactly what downstream dense models
    * want and what the oracle's calendar×type scaffold rebuilds. */
  def dailyUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = dailyPivot(spark, sfDir)
    wide.unpivot(Array(col("day")), EventTypes.map(col).toArray,
        "event_type", "n")
      .orderBy("day", "event_type")
  }

  val dailyUnpivotSql: String = {
    val types = EventTypes.map(t => s"('$t')").mkString(", ")
    s"""WITH counts AS (
       |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2
       |), days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
       |types(event_type) AS (VALUES $types)
       |SELECT d.day, t.event_type,
       |       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
       |FROM days d CROSS JOIN types t
       |LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
       |ORDER BY d.day, t.event_type""".stripMargin
  }

  /** q44 — hot-key join under explicit salting (graft.etl.Skew): events
    * join a 5-row event-type dim, the worst-case skew shape (every row
    * shares 5 keys). `saltedJoin` spreads each hot key across 8
    * sub-keys so no single task owns a key's whole partition; the spec
    * pins the salted plan, and this query proves the result is
    * IDENTICAL to the plain join the oracle runs. */
  def saltedHotJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dim = ev.groupBy("event_type").agg(count(lit(1)).as("type_count"))
    graft.etl.Skew.saltedJoin(ev, dim, "event_type", salts = 8)
      .groupBy("event_type")
      .agg(max(col("type_count")).as("type_count"),
        count(lit(1)).as("n_rows"),
        sum(graft.Tables.money(col("value"))).as("v_dec"))
      .select(col("event_type"), col("type_count"), col("n_rows"),
        col("v_dec").cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val saltedHotJoinSql: String =
    """WITH dim AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS type_count
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, d.type_count,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY 1, 2 ORDER BY e.event_type""".stripMargin

  /** q49 — value histogram: fixed-width binning of the event value per
    * type — one scan, one (type, bin) agg with map-side combine. The
    * bin edge `floor(value / width)` is the same IEEE double op in
    * both engines, so bins are deterministic. */
  val BinWidth = 50.0

  def valueHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    ev.groupBy(col("event_type"),
        floor(col("value") / BinWidth).as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(graft.Tables.money(col("value"))).as("v_dec"))
      .select(col("event_type"), col("bin"), col("n"),
        col("v_dec").cast("double").as("bin_value"))
      .orderBy("event_type", "bin")
  }

  val valueHistogramSql: String =
    s"""SELECT event_type, CAST(floor(value / $BinWidth) AS BIGINT) AS bin,
       |       CAST(COUNT(*) AS BIGINT) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bin_value
       |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin

  /** q50 — funnel conversion: did a purchase follow each user's FIRST
    * signup within `FunnelWindow`? Two pushed-down type filters, a
    * per-user min-aggregate, then a user-keyed join + flag aggregate —
    * the standard funnel shape, no window over the whole stream. */
  val FunnelWindow = "1 hour"

  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("signup_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    signups.join(purchases, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(max(when(col("p_ts") >= col("signup_ts") &&
        col("p_ts") <= col("signup_ts") + expr(s"INTERVAL $FunnelWindow"),
        1).otherwise(0)).as("c"))
      .select(col("user_id"), col("signup_ts"), (col("c") === 1).as("converted"))
      .orderBy("user_id")
  }

  val funnelSql: String =
    """WITH s AS (
      |  SELECT user_id, make_timestamp(epoch_us(MIN(ts))) AS signup_ts
      |  FROM events WHERE event_type = 'signup' GROUP BY 1
      |), p AS (
      |  SELECT user_id, make_timestamp(epoch_us(ts)) AS p_ts
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT s.user_id, s.signup_ts,
      |       COALESCE(MAX(CASE WHEN p.p_ts >= s.signup_ts
      |         AND p.p_ts <= s.signup_ts + INTERVAL {W}
      |         THEN 1 ELSE 0 END), 0) = 1 AS converted
      |FROM s LEFT JOIN p ON s.user_id = p.user_id
      |GROUP BY 1, 2 ORDER BY s.user_id""".stripMargin
      .replace("{W}", FunnelWindow)

  /** q53 — weekly retention cohorts: users grouped by their first-event
    * week, counted distinct in each later activity week — the classic
    * cohort triangle. One per-user min-aggregate, a user-keyed join to
    * re-tag every event, then a (cohort, offset) count-distinct. Week
    * truncation is ISO-Monday in both engines; offsets are integer
    * day-counts divided by 7 (non-negative, so truncation == floor). */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val first = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
    ev.join(first, Seq("user_id"))
      .select(col("user_id"),
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"),
        (datediff(date_trunc("week", col("ts")).cast("date"),
          date_trunc("week", col("first_ts")).cast("date")) / 7)
          .cast("long").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  val retentionCohortsSql: String =
    """WITH f AS (
      |  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY 1
      |), a AS (
      |  SELECT e.user_id,
      |         CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
      |         CAST(date_diff('day',
      |           CAST(date_trunc('week', f.first_ts) AS DATE),
      |           CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset
      |  FROM events e JOIN f USING (user_id)
      |)
      |SELECT cohort_week, week_offset,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
      |FROM a GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  /** q55 — point-in-interval RANGE JOIN, the operator Spark has no
    * native plan for (reference analogue: the date-window predicates in
    * `BI_Questions.sql`; the generalization every attribution/incident
    * pipeline needs). The 20 highest-value events (ties broken by
    * event_id, so the cut is total) anchor ±30-minute "incident
    * windows"; every event falling inside a window is attributed to it,
    * many-to-many.
    *
    * Scale shape: the naive plan is a cartesian/BNLJ theta-join — O(n·m)
    * and a driver OOM at 100 TB. Instead both sides are discretized onto
    * a time grid one window-length wide: an interval then overlaps at
    * most 2 grid cells, so each anchor expands to ≤2 (bucket, window)
    * rows and the join becomes a plain EQUI-join on bucket + a residual
    * range filter — hash-joinable, shuffle-partitionable, AQE-skew-
    * splittable at any interval count. With only 20 anchors the build
    * side is explicitly broadcast, so the probe side streams map-side
    * with zero shuffle of the big table.
    *
    * The DuckDB oracle runs the same semantics through its native IEJoin
    * (inequality-join) operator — an independent algorithm. */
  val RangeWindows = 20
  val RangeHalfUs: Long = 30L * 60 * 1000000 // ±30 min
  val RangeBucketUs: Long = 2 * RangeHalfUs  // grid = window length

  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame =
    rangeJoinOn(loadEvents(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("us")))

  /** The bucketed range-join core over (event_id, user_id, value, us) —
    * separate so specs can drive the production plan with planted rows. */
  def rangeJoinOn(ev: DataFrame): DataFrame = {
    val anchors = ev.orderBy(col("value").desc, col("event_id"))
      .limit(RangeWindows)
      .select(col("event_id").as("window_id"), col("us").as("anchor_us"))
    val anchorBuckets = anchors.select(col("window_id"), col("anchor_us"),
      explode(expr(
        s"sequence((anchor_us - $RangeHalfUs) div $RangeBucketUs," +
          s" (anchor_us + $RangeHalfUs - 1) div $RangeBucketUs)")).as("bucket"))
    ev.withColumn("bucket", expr(s"us div $RangeBucketUs"))
      .join(broadcast(anchorBuckets), "bucket")
      .filter(col("us") >= col("anchor_us") - RangeHalfUs &&
        col("us") < col("anchor_us") + RangeHalfUs)
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("window_id")
  }

  val rangeJoinSql: String =
    s"""WITH a AS (
       |  SELECT event_id AS window_id, epoch_us(ts) AS anchor_us
       |  FROM events ORDER BY value DESC, event_id LIMIT $RangeWindows
       |)
       |SELECT a.window_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
       |FROM a JOIN events e
       |  ON epoch_us(e.ts) >= a.anchor_us - $RangeHalfUs
       | AND epoch_us(e.ts) <  a.anchor_us + $RangeHalfUs
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val asofJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
      |), clicks AS (
      |  SELECT user_id, tsu, MAX(event_id) AS click_id
      |  FROM e WHERE event_type = 'click' GROUP BY 1, 2
      |), views AS (
      |  SELECT user_id, tsu, event_id FROM e WHERE event_type = 'view'
      |)
      |SELECT v.event_id AS view_event_id, v.user_id, c.click_id AS asof_click_id
      |FROM views v ASOF LEFT JOIN clicks c
      |  ON v.user_id = c.user_id AND v.tsu >= c.tsu
      |ORDER BY view_event_id""".stripMargin

  /** q58 — 7-day trailing average of daily totals via a RANGE window
    * frame (`rangeBetween(-6, 0)` over day number): a calendar-gap-aware
    * rolling mean — a missing day SHRINKS the window rather than
    * stretching it over 8 calendar days, which is what a ROWS frame
    * would silently do. The window is global but runs AFTER the daily
    * aggregation, over one row per day — bounded by the calendar, not
    * the data (same post-agg justification as q02's rank). Sums stay in
    * DECIMAL(18,2) through both the daily agg and the rolling frame;
    * doubles only at the output edge. */
  def rollingDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = loadEvents(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(Tables.money(col("value"))).as("day_dec"))
    val w = Window.orderBy(col("dayn")).rangeBetween(-6, 0)
    daily
      .withColumn("dayn", datediff(col("day"), to_date(lit("1970-01-01"))))
      .select(col("day"), col("n_events"),
        col("day_dec").cast("double").as("day_value"),
        (sum(col("day_dec")).over(w).cast("double") /
          count(lit(1)).over(w)).as("avg7"))
      .orderBy("day")
  }

  val rollingDailySql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |         CAST(COUNT(*) AS BIGINT) AS n_events,
      |         SUM(CAST(value AS DECIMAL(18,2))) AS day_dec
      |  FROM events GROUP BY 1
      |)
      |SELECT day, n_events,
      |       CAST(day_dec AS DOUBLE) AS day_value,
      |       CAST(SUM(day_dec) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg7
      |FROM daily
      |WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  /** q66 — CUBE over (event_type, hour-of-day) with GROUPING()
    * disambiguation, completing the grouping-sets family next to q42's
    * ROLLUP (SURVEY.md §2.5 lists grouping sets as absent from the
    * reference). CUBE fans each row to its 4 grouping sets inside ONE
    * Expand + partial/final hash aggregate — one scan, one shuffle, not
    * four. GROUPING() flags (not null checks) pick the 'ALL' sentinels,
    * so a genuinely-null grouping value could never be conflated with a
    * subtotal cell. */
  def eventCube(spark: SparkSession, sfDir: String): DataFrame = {
    val base = loadEvents(spark, sfDir).select(col("event_type"),
      hour(col("ts")).cast("int").as("hr"), col("value"))
    base.cube(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n_events"),
        sum(Tables.money(col("value"))).as("v_dec"),
        grouping(col("event_type")).as("g_et"),
        grouping(col("hr")).as("g_hr"))
      .select(
        when(col("g_et") === 1, lit("ALL")).otherwise(col("event_type")).as("event_type"),
        when(col("g_hr") === 1, lit(-1)).otherwise(col("hr")).as("hr"),
        col("n_events"), col("v_dec").cast("double").as("total_value"))
      .orderBy("event_type", "hr")
  }

  val eventCubeSql: String =
    """WITH base AS (
      |  SELECT event_type, CAST(hour(ts) AS INT) AS hr, value FROM events),
      |c AS (
      |  SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS n_events,
      |         SUM(CAST(value AS DECIMAL(18,2))) AS v,
      |         GROUPING(event_type) AS g_et, GROUPING(hr) AS g_hr
      |  FROM base GROUP BY CUBE(event_type, hr))
      |SELECT CASE WHEN g_et = 1 THEN 'ALL' ELSE event_type END AS event_type,
      |       CASE WHEN g_hr = 1 THEN -1 ELSE hr END AS hr,
      |       n_events, CAST(v AS DOUBLE) AS total_value
      |FROM c ORDER BY event_type, hr""".stripMargin

  /** q69 — semi-structured props through Spark 4's VARIANT type:
    * `parse_json` once into the shredded binary encoding, then typed
    * path access with `variant_get` — the scale path for ragged JSON,
    * since VARIANT avoids re-parsing the string per field the way
    * repeated `from_json`/`get_json_object` calls do (q36 shows the
    * fixed-schema alternative). Output: per event type, the histogram
    * of k-deciles. */
  def variantBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    // floor division (not `div`, which truncates toward zero) and a -999
    // sentinel for missing k: pins identical semantics in both engines
    // even outside the fixture's k∈[0,99] domain (negative or absent k)
    ev.select(col("event_type"),
        variant_get(parse_json(col("props")), "$.k", "int").as("k"))
      .select(col("event_type"),
        coalesce(floor(col("k") / 10.0).cast("int"), lit(-999)).as("k_bucket"))
      .groupBy("event_type", "k_bucket")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_type", "k_bucket")
  }

  val variantBucketsSql: String =
    """WITH p AS (
      |  SELECT event_type,
      |         COALESCE(CAST(FLOOR(
      |           CAST(json_extract_string(props, '$.k') AS INT) / 10.0
      |         ) AS INT), -999) AS k_bucket
      |  FROM events)
      |SELECT event_type, k_bucket,
      |       CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM p GROUP BY event_type, k_bucket
      |ORDER BY event_type, k_bucket""".stripMargin

  /** q85 — calendar gap-fill with LOCF (last observation carried
    * forward): regularize each user's sparse daily value series onto a
    * dense calendar — the time-series shape model training and
    * feature stores need (no missing rows, explicit observed flag,
    * age of the carried value). Each user's grid runs from their
    * first active day to the global max day (driver anchor, the q03
    * pattern, so the per-row `sequence()` bound is a literal).
    *
    * Scale: daily totals are one (user, day) agg in exact decimal;
    * the calendar explode is narrow (sequence per user); the fill is
    * ONE window pass — `last(_, ignoreNulls)` over an unbounded-
    * preceding frame, partitioned by user — the canonical distributed
    * LOCF with no self-join. DuckDB mirrors it with
    * `last_value(... IGNORE NULLS)`. */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val daily = ev
      .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(sum(graft.Tables.money(col("value"))).as("v"))
    val gmax = daily.agg(max(col("d"))).head().getDate(0)
    val grid = daily.groupBy("user_id").agg(min(col("d")).as("d0"))
      .select(col("user_id"),
        explode(sequence(col("d0"), lit(gmax), expr("interval 1 day"))).as("d"))
    val w = Window.partitionBy("user_id").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "d"), "left")
      .select(col("user_id"), col("d"),
        col("v").isNotNull.as("is_observed"),
        last(col("v"), ignoreNulls = true).over(w)
          .cast("double").as("value_filled"),
        datediff(col("d"),
          last(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(w))
          .cast("long").as("gap_age"))
      .orderBy("user_id", "d")
  }

  val gapFillSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
      |         SUM(CAST(value AS DECIMAL(18,2))) AS v
      |  FROM events GROUP BY 1, 2
      |), mx AS (SELECT MAX(d) AS gmax FROM daily),
      |grid AS (
      |  SELECT b.user_id,
      |         CAST(unnest(generate_series(CAST(b.d0 AS TIMESTAMP),
      |           CAST(mx.gmax AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM (SELECT user_id, MIN(d) AS d0 FROM daily GROUP BY 1) b, mx
      |)
      |SELECT g.user_id, g.d,
      |       (daily.v IS NOT NULL) AS is_observed,
      |       CAST(last_value(daily.v IGNORE NULLS) OVER w AS DOUBLE) AS value_filled,
      |       CAST(date_diff('day',
      |         last_value(CASE WHEN daily.v IS NOT NULL THEN g.d END IGNORE NULLS)
      |           OVER w, g.d) AS BIGINT) AS gap_age
      |FROM grid g
      |LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d
      |WINDOW w AS (PARTITION BY g.user_id ORDER BY g.d
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY g.user_id, g.d""".stripMargin

  /** q77 — IQR outlier gate (Tukey fences) on event values per type:
    * the data-cleaning step between profiling (q76) and the quality
    * gate — quantile bounds learned FROM the data, not hand-set
    * thresholds. Values quantize to integer cents (floor(value·100),
    * identical IEEE product+floor in both engines) so the q43 exactness
    * argument applies end to end: dyadic-fraction percentiles over
    * integers interpolate exactly, the 1.5·IQR whiskers are exact
    * eighths, and the fence comparisons are decided on exact numbers —
    * no FP cliff at the threshold.
    *
    * Scale: one (event_type)-keyed agg for the bounds (exact
    * percentile; swap approx_percentile at 100 TB — same plan), then a
    * broadcast of the tiny bounds table back over a second scan. */
  val OutlierWhisker = 1.5

  def valueOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
    val bounds = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        percentile(col("cents"), array(lit(0.25), lit(0.75))).as("q"))
      .select(col("event_type"), col("n_events"),
        col("q")(0).as("q1"), col("q")(1).as("q3"))
      .withColumn("lo",
        col("q1") - lit(OutlierWhisker) * (col("q3") - col("q1")))
      .withColumn("hi",
        col("q3") + lit(OutlierWhisker) * (col("q3") - col("q1")))
    ev.join(broadcast(bounds), "event_type")
      .groupBy("event_type", "n_events", "q1", "q3")
      .agg(sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("cents") > col("hi"), 1L).otherwise(0L)).as("n_high"))
      .orderBy("event_type")
  }

  val valueOutliersSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
       |  FROM events
       |), q AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |         quantile_cont(cents, 0.25) AS q1,
       |         quantile_cont(cents, 0.75) AS q3
       |  FROM ev GROUP BY 1
       |)
       |SELECT e.event_type, q.n_events,
       |       CAST(q.q1 AS DOUBLE) AS q1, CAST(q.q3 AS DOUBLE) AS q3,
       |       CAST(SUM(CASE WHEN e.cents <
       |         q.q1 - $OutlierWhisker * (q.q3 - q.q1) THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_low,
       |       CAST(SUM(CASE WHEN e.cents >
       |         q.q3 + $OutlierWhisker * (q.q3 - q.q1) THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_high
       |FROM ev e JOIN q ON e.event_type = q.event_type
       |GROUP BY 1, 2, 3, 4 ORDER BY e.event_type""".stripMargin

  /** q75 — SCD2 dimension build from a change stream: collapse each
    * user's event history into versioned rows with validity intervals —
    * a new version opens whenever the user's event_type CHANGES
    * (run-length encoding of the attribute over time), `valid_to` is
    * the next change's timestamp, and the open version is flagged
    * current. This is the incremental-warehouse answer to the
    * reference's truncate-and-reload (ETL_DAG.py:211-213): history is
    * preserved, not overwritten.
    *
    * One shuffle total: lag-filter and the version/lead windows share
    * the (user_id) partitioning and (ts, event_id) sort, so Catalyst
    * plans a single Exchange+Sort feeding all three window functions.
    * The (ts, event_id) tiebreak makes version numbering total even on
    * equal timestamps. */
  def scd2History(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead("ts", 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  val scd2HistorySql: String =
    """WITH o AS (
      |  SELECT user_id, event_type, ts, event_id,
      |         lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS prev_type
      |  FROM events
      |), ch AS (
      |  SELECT user_id, event_type, ts, event_id FROM o
      |  WHERE prev_type IS NULL OR prev_type != event_type
      |)
      |SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
      |       event_type,
      |       make_timestamp(epoch_us(ts)) AS valid_from,
      |       make_timestamp(epoch_us(lead(ts) OVER w)) AS valid_to,
      |       (lead(ts) OVER w IS NULL) AS is_current
      |FROM ch
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** The exact-percentile grid q92 reports per event type. */
  val Percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  /** q92 — exact linear-interpolated percentiles of `value` per event
    * type (index = p·(n-1), weighted lower/higher average — the
    * definition both Spark's `percentile` and DuckDB's `quantile_cont`
    * implement). Complements q49's fixed-width histogram and q77's IQR
    * fences with the aggregate itself. Exact percentile sorts values
    * within each group once for all five cut points (ONE agg, one
    * shuffle on event_type); at 100 TB swap in approx_percentile's
    * KLL-style sketch for the same call shape — this query pins the
    * exact semantics that sketch is then judged against. */
  def valuePercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        percentile(col("value"), lit(Percentiles.toArray)).as("ps"))
      .select(col("event_type") +: col("n") +:
        Percentiles.zipWithIndex.map { case (p, i) =>
          round(element_at(col("ps"), i + 1), 6)
            .as(s"p${(p * 100).toInt}")
        }: _*)
      .orderBy("event_type")
  }

  val valuePercentilesSql: String = {
    val cuts = Percentiles
      .map(p => s"round(quantile_cont(value, $p), 6) AS p${(p * 100).toInt}")
      .mkString(",\n      |       ")
    s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |       $cuts
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** q93 — least-squares regression of value on hour-of-day per event
    * type, built from EXACT decimal moments (n, Σx, Σx², Σy, Σy², Σxy)
    * the way q68 builds its dispersion stats: integer hours and
    * DECIMAL(18,2) values sum exactly in any order, so slope,
    * intercept, and correlation are deterministic on both engines with
    * no float-accumulation drift — the moments-then-combine shape is
    * also exactly how a regression runs distributed at 100 TB (partial
    * moments map-side, one tiny combine). */
  def hourValueRegression(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
      .select(col("event_type"), hour(col("ts")).cast("long").as("x"),
        Tables.money(col("value")).as("y"))
    val m = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val n = col("n").cast("double")
    val (sx, sxx) = (col("sx").cast("double"), col("sxx").cast("double"))
    val (sy, syy) = (col("sy").cast("double"), col("syy").cast("double"))
    val sxy = col("sxy").cast("double")
    val covn = n * sxy - sx * sy // n²·cov(x,y)
    val varxn = n * sxx - sx * sx
    val varyn = n * syy - sy * sy
    m.select(col("event_type"), col("n"),
        round(covn / varxn, 6).as("slope"),
        round((sy - (covn / varxn) * sx) / n, 6).as("intercept"),
        round(covn / sqrt(varxn * varyn), 6).as("r"))
      .orderBy("event_type")
  }

  // moments cast to DOUBLE BEFORE the combine arithmetic, so the oracle
  // executes the identical IEEE op sequence as the Spark side (a
  // decimal-exact combine followed by one cast would differ in the last
  // bits — harmless under round(6), but why leave it to tolerance)
  val hourValueRegressionSql: String =
    """WITH pts AS (
      |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
      |         CAST(value AS DECIMAL(18,2)) AS y
      |  FROM events
      |), m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |         SUM(x) AS sx, SUM(x*x) AS sxx,
      |         SUM(y) AS sy, SUM(y*y) AS syy, SUM(x*y) AS sxy
      |  FROM pts GROUP BY 1
      |), d AS (
      |  SELECT event_type, n, n::DOUBLE AS nd, sx::DOUBLE AS sx,
      |         sxx::DOUBLE AS sxx, sy::DOUBLE AS sy, syy::DOUBLE AS syy,
      |         sxy::DOUBLE AS sxy
      |  FROM m
      |)
      |SELECT event_type, n,
      |       round((nd*sxy - sx*sy) / (nd*sxx - sx*sx), 6) AS slope,
      |       round((sy - ((nd*sxy - sx*sy) / (nd*sxx - sx*sx)) * sx) / nd, 6)
      |         AS intercept,
      |       round((nd*sxy - sx*sy)
      |             / sqrt((nd*sxx - sx*sx) * (nd*syy - sy*sy)), 6) AS r
      |FROM d ORDER BY event_type""".stripMargin

  /** q104 — skewness and excess kurtosis per event type from EXACT
    * integer-cents raw moments (Σc, Σc², Σc³, Σc⁴ in long/decimal/
    * HUGEINT — order-independent), completing the q68/q93 moment
    * family with the 3rd and 4th moments. Unlike the built-in
    * `skewness`/`kurtosis` (streaming float updates, order-dependent
    * last bits), the exact-sums-then-one-double-combine form is
    * deterministic and engine-portable; the m2^1.5 normalizer is
    * written m2·√m2 because `sqrt` is correctly rounded everywhere
    * while `pow(x, 1.5)` is libm-dependent. Map-side partial sums,
    * one tiny combine — the distributed-moments shape. */
  def valueMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("c"))
    val cd = col("c").cast("decimal(38,0)")
    // every power sum rides decimal(38,0): at 100 TB row counts Σc²
    // already exceeds BIGINT (ANSI error or wrap), and the DuckDB twin
    // promotes to HUGEINT — same width, same one cast to double below
    val m = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(cd).as("s1"), sum(cd * cd).as("s2"),
      sum(cd * cd * cd).as("s3"), sum(cd * cd * cd * cd).as("s4"))
    val nd = col("n").cast("double")
    val mu = col("s1").cast("double") / nd
    val r2 = col("s2").cast("double") / nd
    val r3 = col("s3").cast("double") / nd
    val r4 = col("s4").cast("double") / nd
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    val m4 = r4 - lit(4.0) * mu * r3 + lit(6.0) * mu * mu * r2 -
      lit(3.0) * mu * mu * mu * mu
    m.select(col("event_type"), col("n"),
        round(mu, 6).as("mean_cents"),
        round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
        round(m4 / (m2 * m2) - lit(3.0), 6).as("excess_kurtosis"))
      .orderBy("event_type")
  }

  val valueMomentsSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
      |  FROM events
      |), m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |         SUM(c) AS s1, SUM(c*c) AS s2,
      |         SUM(c::HUGEINT * c * c) AS s3,
      |         SUM(c::HUGEINT * c * c * c) AS s4
      |  FROM c GROUP BY 1
      |), d AS (
      |  SELECT event_type, n,
      |         s1::DOUBLE / n::DOUBLE AS mu,
      |         s2::DOUBLE / n::DOUBLE AS r2,
      |         s3::DOUBLE / n::DOUBLE AS r3,
      |         s4::DOUBLE / n::DOUBLE AS r4
      |  FROM m
      |), k AS (
      |  SELECT event_type, n, mu,
      |         r2 - mu*mu AS m2,
      |         r3 - 3.0*mu*r2 + 2.0*mu*mu*mu AS m3,
      |         r4 - 4.0*mu*r3 + 6.0*mu*mu*r2 - 3.0*mu*mu*mu*mu AS m4
      |  FROM d
      |)
      |SELECT event_type, n, round(mu, 6) AS mean_cents,
      |       round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
      |       round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
      |FROM k ORDER BY event_type""".stripMargin

  /** EWMA decay factor: next = α·x + (1−α)·prev. */
  val EwmaAlpha = 0.3

  /** q90 — per-user exponentially weighted moving average over the
    * (ts, event_id)-ordered value sequence, seeded with the first
    * value. The recurrence is inherently sequential per key, so it
    * runs as ONE ordered fold inside a per-user aggregate —
    * `aggregate()` over a sorted array here, `list_reduce` in the
    * oracle — with both engines executing the identical IEEE op
    * sequence (the fold order is pinned by the sort), not a windowed
    * rewrite like (1−α)^(−i) prefix sums that overflows past ~700
    * steps. One shuffle on user_id; per-user state is O(1) beyond the
    * collected sequence, and at 100 TB the same recurrence moves to
    * the array-free sorted-iterator pass below ([[ewmaValueStreaming]],
    * spec-pinned bit-equal). */
  def ewmaValue(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val xs = sort_array(collect_list(
      struct(col("ts"), col("event_id"), col("value"))))
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), xs.as("seq"))
      .select(col("user_id"), col("n"),
        round(aggregate(
          slice(transform(col("seq"), s => s("value")), lit(2),
            greatest(size(col("seq")) - 1, lit(0))),
          element_at(transform(col("seq"), s => s("value")), 1),
          (acc, x) => lit(EwmaAlpha) * x + lit(1.0 - EwmaAlpha) * acc), 6)
          .as("ewma"))
      .orderBy("user_id")
  }

  /** Grid geometry for the interval-overlap join: 30-minute cells, and
    * incidents extend 10 minutes past their error event. */
  val OverlapGridUs = 1800000000L
  val IncidentLenUs = 600000000L

  /** q100 — INTERVAL × INTERVAL overlap join: each user session
    * (q20's 30-minute-gap windows, half-open [start, last+gap)) joined
    * to the same user's error incidents ([ts, ts+10min)), reporting
    * per session the overlapping-incident count and total overlapped
    * time. Completes the join family past q38's as-of and q55's
    * point-in-interval.
    *
    * Spark has no native interval join, and a raw theta join would plan
    * BNLJ — the scalable composition is GRID BUCKETING on both sides:
    * explode each interval to the 30-min cells it covers, hash-join on
    * (user_id, cell) — pure equi-join — dedup pairs that met in
    * several cells, and verify the exact overlap predicate afterwards
    * (cells only prune). Fan-out is bounded: len/grid + 2 cells per
    * interval. The oracle runs DuckDB's native theta join — an
    * independent algorithm, same rows. */
  def sessionIncidentOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val G = OverlapGridUs
    val sess = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("s0"),
        unix_micros(col("w.end")).as("s1"))
    val inc = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("i0"),
        (unix_micros(col("ts")) + IncidentLenUs).as("i1"))
    val sessB = sess.withColumn("cell",
      explode(sequence(expr(s"s0 div $G"), expr(s"(s1 - 1) div $G"))))
    val incB = inc.withColumn("cell",
      explode(sequence(expr(s"i0 div $G"), expr(s"(i1 - 1) div $G"))))
    val pairs = sessB.join(incB, Seq("user_id", "cell"))
      .filter(col("s0") < col("i1") && col("i0") < col("s1"))
      .select(col("user_id"), col("s0"), col("s1"),
        col("event_id"), col("i0"), col("i1"))
      .distinct()
    val agg = pairs.groupBy("user_id", "s0")
      .agg(count(lit(1)).as("n_incidents"),
        sum(least(col("s1"), col("i1")) - greatest(col("s0"), col("i0")))
          .as("overlap_us"))
    sess.join(agg, Seq("user_id", "s0"), "left")
      .select(col("user_id"), timestamp_micros(col("s0")).as("session_start"),
        coalesce(col("n_incidents"), lit(0L)).as("n_incidents"),
        coalesce(col("overlap_us"), lit(0L)).as("overlap_us"))
      .orderBy("user_id", "session_start")
  }

  val sessionIncidentOverlapSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts,
       |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |                   >= INTERVAL 30 MINUTE
       |              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |), grp AS (
       |  SELECT user_id, ts,
       |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
       |             ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM marked
       |), sess AS (
       |  -- s1 = last event + the 30-min session GAP (Spark's exclusive
       |  -- session_window end); 1800000000 µs is the gap, which only
       |  -- coincidentally equals the grid cell size
       |  SELECT user_id, epoch_us(MIN(ts)) AS s0,
       |         epoch_us(MAX(ts)) + 1800000000 AS s1
       |  FROM grp GROUP BY user_id, session_id
       |), inc AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS i0,
       |         epoch_us(ts) + $IncidentLenUs AS i1
       |  FROM events WHERE event_type = 'error'
       |), agg AS (
       |  SELECT s.user_id, s.s0, CAST(COUNT(*) AS BIGINT) AS n_incidents,
       |         CAST(SUM(LEAST(s.s1, i.i1) - GREATEST(s.s0, i.i0)) AS BIGINT)
       |           AS overlap_us
       |  FROM sess s JOIN inc i
       |    ON s.user_id = i.user_id AND s.s0 < i.i1 AND i.i0 < s.s1
       |  GROUP BY 1, 2
       |)
       |SELECT s.user_id, make_timestamp(s.s0) AS session_start,
       |       COALESCE(a.n_incidents, 0) AS n_incidents,
       |       COALESCE(a.overlap_us, 0) AS overlap_us
       |FROM sess s LEFT JOIN agg a ON s.user_id = a.user_id AND s.s0 = a.s0
       |ORDER BY s.user_id, session_start""".stripMargin

  /** The array-free EWMA the q90 Scaladoc promises for 100 TB: hash-
    * repartition by user, secondary-sort within partitions on
    * (user_id, ts, event_id), and run the recurrence over the sorted
    * iterator in one `mapPartitions` pass — per-user state is a single
    * accumulator, no collected sequence, so a user with a billion
    * events costs O(1) memory. Same op order as the fold, so
    * SketchGraphOpsSpec pins bit-equality against q90. */
  def ewmaValueStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = loadEvents(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "tsu", "event_id")
      .as[(Long, Long, Long, Double)]
    ev.mapPartitions { it =>
      new Iterator[(Long, Long, Double)] {
        private var cur: Option[(Long, Long, Double)] = None // uid, n, acc
        private var pending: Option[(Long, Long, Double)] = None
        private def roll(): Unit = {
          while (pending.isEmpty && it.hasNext) {
            val (uid, _, _, v) = it.next()
            cur match {
              case Some((u, n, acc)) if u == uid =>
                cur = Some((u, n + 1,
                  EwmaAlpha * v + (1.0 - EwmaAlpha) * acc))
              case Some(done) =>
                pending = Some(done); cur = Some((uid, 1L, v))
              case None => cur = Some((uid, 1L, v))
            }
          }
          if (pending.isEmpty && !it.hasNext && cur.isDefined) {
            pending = cur; cur = None
          }
        }
        def hasNext: Boolean = { roll(); pending.isDefined }
        def next(): (Long, Long, Double) = {
          roll(); val r = pending.get; pending = None; r
        }
      }
    }.toDF("user_id", "n", "ewma_raw")
      .select(col("user_id"), col("n"), round(col("ewma_raw"), 6).as("ewma"))
      .orderBy("user_id")
  }

  val ewmaValueSql: String =
    s"""WITH s AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
       |         list(value ORDER BY ts, event_id) AS xs
       |  FROM events GROUP BY user_id
       |)
       |SELECT user_id, n,
       |       round(list_reduce(xs,
       |         (acc, x) -> $EwmaAlpha::DOUBLE * x
       |                     + ${1.0 - EwmaAlpha}::DOUBLE * acc), 6) AS ewma
       |FROM s ORDER BY user_id""".stripMargin

  /** q136 — first-order Markov transition matrix over each user's
    * event sequence: P(next type | current type), plus the entropy of
    * each row — the "what does a user do after X" model behind
    * session simulation, anomaly scoring (improbable transitions),
    * and next-event prediction baselines.
    *
    * Scale shape: ONE shuffle keyed by user; `lead` runs inside each
    * user's partition ordered by (ts, event_id) — the deterministic
    * tie-break, since timestamps can collide — and everything after
    * is |types|² ≤ tiny: the matrix probabilities and row entropies
    * are windows/joins over ≤25 rows. This is the q40/q71 sequence
    * shape ending in a constant-size model instead of per-user rows. */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = ev
      .withColumn("to_type", lead(col("event_type"), 1).over(wu))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy("from_type")
    val p = col("n").cast("double") / col("row_n").cast("double")
    pairs.withColumn("row_n", sum("n").over(wf))
      .withColumn("p", p)
      // exact nano-sum (q196 doctrine): float −p·log2(p) terms
      // feeding the round(6) entropy grid
      .withColumn("h9",
        sum(round((-p * log2(p)) * 1e9, 0).cast("long")).over(wf))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("p"), 6).as("p"),
        round(col("h9").cast("double") / 1e9, 6).as("h_bits"))
      .orderBy("from_type", "to_type")
  }

  val eventTransitionsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS to_type
      |  FROM events
      |), m AS (
      |  SELECT event_type AS from_type, to_type, COUNT(*) AS n
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
      |), probs AS (
      |  SELECT from_type, to_type, n,
      |         n::DOUBLE / (SUM(n) OVER (PARTITION BY from_type))::DOUBLE
      |           AS p
      |  FROM m
      |)
      |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
      |       round(p, 6) AS p,
      |       round(CAST(SUM(CAST(round((-p * log2(p)) * 1e9) AS BIGINT))
      |               OVER (PARTITION BY from_type) AS DOUBLE) / 1e9, 6)
      |         AS h_bits
      |FROM probs ORDER BY from_type, to_type""".stripMargin

  /** q138 — A/B experiment readout: users split 50/50 by a portable
    * hash (md5(user_id) % 2 — the q31 determinism discipline, so both
    * engines and every re-run assign identical variants), metric =
    * revenue per user (purchase value, integer cents), compared with
    * Welch's unequal-variance z-test and the |z| > 1.96 call at
    * α = 0.05. A continuous metric, not a conversion proportion: in
    * this fixture every user purchases, which degenerates the pooled
    * two-proportion statistic (p̂ = 1 ⇒ zero denominator).
    *
    * Scale shape: ONE user-keyed aggregation (map-side combine of
    * per-user cents), then a conditional-sum combine to a single row
    * of exact moments (n, Σc, Σc² per arm — Σc² in DECIMAL(38,0),
    * the q104 overflow discipline), so the z float is one identical
    * IEEE sequence on both engines from integer inputs. At 100 TB the
    * plan is unchanged: no per-event state, no window, no join. */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val users = ev.groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
        floor(col("value") * 100).cast("long")).otherwise(0L)).as("c"))
      .select(col("c"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2).as("variant"))
    val cd = col("c").cast("decimal(38,0)")
    val s = users.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, cd).otherwise(lit(0).cast("decimal(38,0)"))).as("s_a"),
      sum(when(col("variant") === 0, cd * cd).otherwise(lit(0).cast("decimal(38,0)"))).as("s2_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, cd).otherwise(lit(0).cast("decimal(38,0)"))).as("s_b"),
      sum(when(col("variant") === 1, cd * cd).otherwise(lit(0).cast("decimal(38,0)"))).as("s2_b"))
    val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
    val (sa, sb) = (col("s_a").cast("double"), col("s_b").cast("double"))
    val (sa2, sb2) = (col("s2_a").cast("double"), col("s2_b").cast("double"))
    val (ma, mb) = (sa / na, sb / nb)
    val va = (sa2 - sa * sa / na) / (na - lit(1.0))
    val vb = (sb2 - sb * sb / nb) / (nb - lit(1.0))
    val z = (ma - mb) / sqrt(va / na + vb / nb)
    s.select(col("n_a"), col("n_b"),
        round(ma / 100.0, 6).as("mean_rev_a"),
        round(mb / 100.0, 6).as("mean_rev_b"),
        round(z, 6).as("z"), (abs(z) > 1.96).as("significant"))
      .orderBy("n_a")
  }

  val abTestSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         SUM(CASE WHEN event_type = 'purchase'
      |                  THEN floor(value * 100)::BIGINT ELSE 0 END) AS c,
      |         ('0x'||substr(md5(user_id::VARCHAR),1,8))::BIGINT % 2
      |           AS variant
      |  FROM events GROUP BY user_id
      |), s AS (
      |  SELECT SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
      |         SUM(CASE WHEN variant = 0 THEN c ELSE 0 END) AS s_a,
      |         SUM(CASE WHEN variant = 0 THEN c * c ELSE 0 END) AS s2_a,
      |         SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
      |         SUM(CASE WHEN variant = 1 THEN c ELSE 0 END) AS s_b,
      |         SUM(CASE WHEN variant = 1 THEN c * c ELSE 0 END) AS s2_b
      |  FROM u
      |), d AS (
      |  SELECT n_a, n_b,
      |         n_a::DOUBLE AS na, s_a::DOUBLE AS sa, s2_a::DOUBLE AS sa2,
      |         n_b::DOUBLE AS nb, s_b::DOUBLE AS sb, s2_b::DOUBLE AS sb2
      |  FROM s
      |), w AS (
      |  SELECT n_a, n_b, na, nb, sa / na AS ma, sb / nb AS mb,
      |         (sa2 - sa * sa / na) / (na - 1.0) AS va,
      |         (sb2 - sb * sb / nb) / (nb - 1.0) AS vb
      |  FROM d
      |)
      |SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
      |       round(ma / 100.0, 6) AS mean_rev_a,
      |       round(mb / 100.0, 6) AS mean_rev_b,
      |       round((ma - mb) / sqrt(va / na + vb / nb), 6) AS z,
      |       abs((ma - mb) / sqrt(va / na + vb / nb)) > 1.96 AS significant
      |FROM w ORDER BY n_a""".stripMargin

  /** q140 — association rules over session baskets: which event types
    * co-occur in the same user session, scored with the market-basket
    * triple (support, confidence, lift) — the Agrawal et al. 1993
    * statistics, with a session as the basket. Lift > 1 marks pairs
    * that co-occur beyond what their marginals predict; the feature a
    * recommender or anomaly gate actually consumes.
    *
    * Sessionization is the q20 lag+cumsum form (gap ≥ 30 min starts a
    * new session) rather than `session_window`, so the basket keys are
    * formula-identical in both engines. Scale shape: one user-keyed
    * shuffle for the session windows; baskets reduce to DISTINCT
    * (session, type) rows; the pair join is an equi-join on the
    * session key with < 5 types per basket (bounded fan-out); the
    * final rule table is |types|² ≤ tiny, joined to broadcast
    * marginals. */
  def sessionBaskets(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val flagged = ev.withColumn("prev", lag(col("ts"), 1).over(wu))
      .withColumn("new_session",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) >= 1800000000L,
          1L).otherwise(0L))
    val wcum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = flagged
      .withColumn("session_id", sum("new_session").over(wcum))
      .select(col("user_id"), col("session_id"), col("event_type"))
      .distinct()
    val totals = st.select(col("user_id"), col("session_id")).distinct().count()
    val singles = st.groupBy(col("event_type")).agg(count(lit(1)).as("n1"))
    val pairs = st.as("a")
      .join(st.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_id") === col("b.session_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(count(lit(1)).as("n12"))
    val s = lit(totals.toDouble)
    pairs
      .join(broadcast(singles.select(col("event_type").as("t1"),
        col("n1").as("c1"))), Seq("t1"))
      .join(broadcast(singles.select(col("event_type").as("t2"),
        col("n1").as("c2"))), Seq("t2"))
      .select(col("t1"), col("t2"), col("n12"),
        round(col("n12").cast("double") / s, 6).as("support"),
        round(col("n12").cast("double") / col("c1").cast("double"), 6)
          .as("confidence"),
        round(col("n12").cast("double") * s /
          (col("c1").cast("double") * col("c2").cast("double")), 6)
          .as("lift"))
      .orderBy("t1", "t2")
  }

  val sessionBasketsSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
      |                                      ORDER BY ts, event_id)
      |                   >= INTERVAL 30 MINUTE
      |              OR LAG(ts) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |), grp AS (
      |  SELECT user_id, event_type,
      |         SUM(new_session) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
      |           AS session_id
      |  FROM marked
      |), st AS (
      |  SELECT DISTINCT user_id, session_id, event_type FROM grp
      |), tot AS (
      |  SELECT COUNT(*)::DOUBLE AS s
      |  FROM (SELECT DISTINCT user_id, session_id FROM st)
      |), singles AS (
      |  SELECT event_type, COUNT(*) AS n1 FROM st GROUP BY 1
      |), pairs AS (
      |  SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n12
      |  FROM st a JOIN st b
      |    ON a.user_id = b.user_id AND a.session_id = b.session_id
      |   AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT t1, t2, CAST(n12 AS BIGINT) AS n12,
      |       round(n12::DOUBLE / s, 6) AS support,
      |       round(n12::DOUBLE / c1.n1::DOUBLE, 6) AS confidence,
      |       round(n12::DOUBLE * s / (c1.n1::DOUBLE * c2.n1::DOUBLE), 6)
      |         AS lift
      |FROM pairs
      |JOIN singles c1 ON c1.event_type = t1
      |JOIN singles c2 ON c2.event_type = t2, tot
      |ORDER BY t1, t2""".stripMargin

  /** Modified z-score cutoff (Iglewicz & Hoaglin 1993). */
  val MadZ = 3.5

  /** q143 — robust outlier detection via MAD (median absolute
    * deviation): per event type, the median, the MAD, and how many
    * events exceed the |0.6745·(x−med)/MAD| > 3.5 modified z-score —
    * the heavy-tail-safe complement to q77's IQR fences (a single
    * wild value moves a mean/stddev fence but not a median/MAD one).
    *
    * Both medians run on integer cents, interpolated identically by
    * Spark's exact `percentile` and DuckDB's `quantile_cont` (the q92
    * pinned pair), so the fences are engine-identical doubles.
    * Scale shape: two (type)-keyed aggs (median, then median of
    * deviations with the 5-row median table broadcast back) and one
    * counting pass — exact medians sort within each type, the
    * documented trade; at 100 TB swap in q134's DDSketch buckets for
    * the same call shape with bounded error. */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("c"))
    val med = ev.groupBy("event_type")
      .agg(percentile(col("c"), lit(0.5)).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("c"), col("med"),
        abs(col("c").cast("double") - col("med")).as("d"))
    val mad = dev.groupBy("event_type")
      .agg(percentile(col("d"), lit(0.5)).as("mad"))
    val z = lit(0.6745) * (col("c").cast("double") - col("med")) / col("mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(max(col("med")) / 100.0, 6).as("median_value"),
        round(max(col("mad")) / 100.0, 6).as("mad_value"),
        sum(when(abs(z) > MadZ, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  val madOutliersSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, floor(value * 100)::BIGINT AS c FROM events
       |), med AS (
       |  SELECT event_type, quantile_cont(c, 0.5) AS med
       |  FROM ev GROUP BY 1
       |), dev AS (
       |  SELECT ev.event_type, ev.c, med.med,
       |         abs(ev.c::DOUBLE - med.med) AS d
       |  FROM ev JOIN med USING (event_type)
       |), mad AS (
       |  SELECT event_type, quantile_cont(d, 0.5) AS mad
       |  FROM dev GROUP BY 1
       |)
       |SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |       round(MAX(dev.med) / 100.0, 6) AS median_value,
       |       round(MAX(mad.mad) / 100.0, 6) AS mad_value,
       |       SUM(CASE WHEN abs(0.6745 * (dev.c::DOUBLE - dev.med)
       |                         / mad.mad) > $MadZ
       |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
       |FROM dev JOIN mad USING (event_type)
       |GROUP BY 1 ORDER BY dev.event_type""".stripMargin

  /** q145 — revenue concentration: rank users by purchase revenue,
    * report each user-count decile's revenue share and cumulative
    * share (the Pareto curve a monetization or data-mixing dashboard
    * draws), plus the Gini coefficient — all WITHOUT a global window.
    *
    * The global descending rank and running revenue both come from
    * [[Sampling.packOffsetsBy]]'s two-phase prefix sum (range
    * partition → partitioned intra window → driver cumsum of one row
    * per partition), the same machinery as q33/q72 — so the plan
    * stays partitioned at any user count where a naive
    * `row_number() OVER (ORDER BY …)` serializes the corpus through
    * one task. Gini folds out of aggregates alone via
    * Σᵢ i·rᵢ = (n+1)·S − Σᵢ cumᵢ (cum is the inclusive running sum),
    * so no second sort is needed; every intermediate is integer
    * cents. */
  def revenueConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val u = ev.groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
        floor(col("value") * 100).cast("long")).otherwise(0L)).as("rev"))
    val keys = Seq(col("rev").desc, col("user_id").asc)
    val cumRev = Sampling.packOffsetsBy(
        u.withColumn("n_tokens", col("rev")), keys)
      .select(col("user_id"), col("rev"),
        (col("start_off") + col("rev")).as("cum"))
    val ranks = Sampling.packOffsetsBy(
        u.withColumn("n_tokens", lit(1L)), keys)
      .select(col("user_id"), col("start_off").as("rank0"))
    val joined = cumRev.join(ranks, Seq("user_id"))
    val t = joined.agg(count(lit(1)), sum("rev"),
      sum(col("cum").cast("decimal(38,0)"))).first()
    val (n, s) = (t.getLong(0), t.getLong(1))
    val sumCum = t.getDecimal(2).doubleValue
    val gini = 2.0 * sumCum / (n.toDouble * s.toDouble) -
      (n + 1).toDouble / n.toDouble
    joined
      .withColumn("decile", expr(s"(rank0 * 10) div $n").cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"),
        round(sum("rev").cast("double") / s.toDouble, 6).as("rev_share"),
        round(max("cum").cast("double") / s.toDouble, 6).as("cum_share"))
      .withColumn("gini", round(lit(gini), 6))
      .orderBy("decile")
  }

  val revenueConcentrationSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         SUM(CASE WHEN event_type = 'purchase'
      |                  THEN floor(value * 100)::BIGINT ELSE 0 END) AS rev
      |  FROM events GROUP BY user_id
      |), r AS (
      |  SELECT user_id, rev,
      |         row_number() OVER (ORDER BY rev DESC, user_id) - 1 AS rank0,
      |         SUM(rev) OVER (ORDER BY rev DESC, user_id
      |                        ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM u
      |), t AS (
      |  SELECT COUNT(*) AS n, SUM(rev) AS s, SUM(cum) AS sumcum FROM r
      |)
      |SELECT CAST((rank0 * 10) // n AS INT) AS decile,
      |       CAST(COUNT(*) AS BIGINT) AS n_users,
      |       round(SUM(rev)::DOUBLE / MAX(s)::DOUBLE, 6) AS rev_share,
      |       round(MAX(cum)::DOUBLE / MAX(s)::DOUBLE, 6) AS cum_share,
      |       round(2.0 * MAX(sumcum)::DOUBLE
      |             / (MAX(n)::DOUBLE * MAX(s)::DOUBLE)
      |             - (MAX(n) + 1)::DOUBLE / MAX(n)::DOUBLE, 6) AS gini
      |FROM r, t
      |GROUP BY 1 ORDER BY decile""".stripMargin

  /** q146 — last-touch attribution: credit each purchase to the most
    * recent PRECEDING non-purchase event of the same user (the
    * marketing-analytics classic), reported as touch-type → purchase
    * counts, credited revenue, and share — plus 'none' rows for
    * purchases with no preceding touch.
    *
    * Scale shape: ONE user-keyed shuffle; the credited touch is
    * `last(..., ignoreNulls)` over each user's (ts, event_id)-ordered
    * partition bounded to [unbounded, -1] — running state per user,
    * no self-join, no per-purchase scan-back; then a |types|-sized
    * aggregate. The same window q40/q90 already pin as partitioned. */
  def lastTouchAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = ev.withColumn("touch",
      last(when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(wu))
    val p = touched.filter(col("event_type") === "purchase")
      .select(coalesce(col("touch"), lit("none")).as("touch"),
        floor(col("value") * 100).cast("long").as("cents"))
    val t = p.agg(count(lit(1)), sum("cents")).first()
    val (np, s) = (t.getLong(0), t.getLong(1))
    p.groupBy("touch")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("cents").cast("double") / 100.0, 2).as("revenue"),
        round(count(lit(1)).cast("double") / np.toDouble, 6)
          .as("purchase_share"),
        round(sum("cents").cast("double") / s.toDouble, 6)
          .as("revenue_share"))
      .orderBy("touch")
  }

  val lastTouchAttributionSql: String =
    """WITH touched AS (
      |  SELECT event_type, value,
      |         last_value(CASE WHEN event_type <> 'purchase'
      |                         THEN event_type END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS touch
      |  FROM events
      |), p AS (
      |  SELECT COALESCE(touch, 'none') AS touch,
      |         floor(value * 100)::BIGINT AS cents
      |  FROM touched WHERE event_type = 'purchase'
      |), t AS (
      |  SELECT COUNT(*) AS np, SUM(cents) AS s FROM p
      |)
      |SELECT touch, CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |       round(SUM(cents)::DOUBLE / 100.0, 2) AS revenue,
      |       round(COUNT(*)::DOUBLE / MAX(np)::DOUBLE, 6)
      |         AS purchase_share,
      |       round(SUM(cents)::DOUBLE / MAX(s)::DOUBLE, 6)
      |         AS revenue_share
      |FROM p, t
      |GROUP BY touch ORDER BY touch""".stripMargin

  /** q152 — RFM segmentation: score every purchasing user 1–3 on
    * Recency (seconds before the corpus's last event), Frequency
    * (purchase count), and Monetary (revenue cents), then report each
    * RFM segment's population and value — the classic lifecycle
    * segmentation a growth dashboard runs daily.
    *
    * Tertile cutoffs come from exact percentiles of the per-user
    * values (the q92-pinned `percentile`/`quantile_cont` pair), and
    * scoring is then a map-side comparison against 6 broadcast
    * threshold doubles — NO global ranking window, which is how the
    * segmentation stays shuffle-light at any user count (ntile over
    * all users would serialize the corpus through one task). The
    * anchor is MAX(ts) over the data, not wall-clock, so the result
    * is reproducible. */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val anchor = ev.agg(max(unix_micros(col("ts")))).first().getLong(0)
    val u = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(((lit(anchor) - max(unix_micros(col("ts")))) / 1000000L)
          .cast("long").as("rec_s"),
        count(lit(1)).as("freq"),
        sum(floor(col("value") * 100).cast("long")).as("mon"))
    val cuts = u.agg(
      percentile(col("rec_s"), lit(Array(1.0 / 3, 2.0 / 3))).as("rc"),
      percentile(col("freq"), lit(Array(1.0 / 3, 2.0 / 3))).as("fc"),
      percentile(col("mon"), lit(Array(1.0 / 3, 2.0 / 3))).as("mc")).first()
    val Seq(r1, r2) = cuts.getSeq[Double](0).toSeq
    val Seq(f1, f2) = cuts.getSeq[Double](1).toSeq
    val Seq(m1, m2) = cuts.getSeq[Double](2).toSeq
    def score(c: Column, lo: Double, hi: Double, invert: Boolean) = {
      val s = when(c.cast("double") <= lo, 1)
        .when(c.cast("double") <= hi, 2).otherwise(3)
      if (invert) lit(4) - s else s
    }
    u.select(col("user_id"), col("mon"),
        // low recency-seconds = recently active = best score
        score(col("rec_s"), r1, r2, invert = true).as("r"),
        score(col("freq"), f1, f2, invert = false).as("f"),
        score(col("mon"), m1, m2, invert = false).as("m"))
      .groupBy("r", "f", "m")
      .agg(count(lit(1)).as("n_users"),
        round(sum("mon").cast("double") / 100.0, 2).as("revenue"))
      .orderBy("r", "f", "m")
  }

  val rfmSegmentsSql: String =
    """WITH anchor AS (
      |  SELECT MAX(epoch_us(ts)) AS a FROM events
      |), u AS (
      |  SELECT user_id,
      |         ((MAX(a) - MAX(epoch_us(ts))) // 1000000)::BIGINT AS rec_s,
      |         COUNT(*) AS freq,
      |         SUM(floor(value * 100)::BIGINT) AS mon
      |  FROM events, anchor
      |  WHERE event_type = 'purchase'
      |  GROUP BY user_id
      |), cuts AS (
      |  SELECT quantile_cont(rec_s, 1.0/3) AS r1,
      |         quantile_cont(rec_s, 2.0/3) AS r2,
      |         quantile_cont(freq, 1.0/3) AS f1,
      |         quantile_cont(freq, 2.0/3) AS f2,
      |         quantile_cont(mon, 1.0/3) AS m1,
      |         quantile_cont(mon, 2.0/3) AS m2
      |  FROM u
      |), scored AS (
      |  SELECT user_id, mon,
      |         4 - (CASE WHEN rec_s::DOUBLE <= r1 THEN 1
      |                   WHEN rec_s::DOUBLE <= r2 THEN 2 ELSE 3 END) AS r,
      |         CASE WHEN freq::DOUBLE <= f1 THEN 1
      |              WHEN freq::DOUBLE <= f2 THEN 2 ELSE 3 END AS f,
      |         CASE WHEN mon::DOUBLE <= m1 THEN 1
      |              WHEN mon::DOUBLE <= m2 THEN 2 ELSE 3 END AS m
      |  FROM u, cuts
      |)
      |SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_users,
      |       round(SUM(mon)::DOUBLE / 100.0, 2) AS revenue
      |FROM scored GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin

  /** Volume-anomaly z cutoff. */
  val AnomalyZ = 3.0

  /** q155 — volume-anomaly minutes: flag the minutes where an event
    * type's arrival count sits more than 3σ from that type's
    * per-minute mean — the traffic-spike/outage detector every
    * event-pipeline dashboard runs. Reports each type's minute count,
    * moment envelope, and the anomalous minutes' share.
    *
    * Mean/σ come from EXACT integer moments of the per-minute counts
    * (n, Σc, Σc² — the q93/q104 discipline), so the fences are one
    * identical IEEE sequence on both engines. Two keyed aggs: events
    * → (type, minute) counts (map-side combine), counts → per-type
    * moments (tiny) broadcast back over the minute table — never a
    * window over raw events. The same fence logic runs streaming over
    * a tumbling-minute aggregate. */
  def anomalyMinutes(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val perMin = ev.groupBy(col("event_type"),
        date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("c"))
    val m = perMin.groupBy("event_type").agg(
      count(lit(1)).as("n_minutes"),
      sum("c").as("s1"), sum(col("c") * col("c")).as("s2"))
    val nd = col("n_minutes").cast("double")
    val mu = col("s1").cast("double") / nd
    val sd = sqrt(col("s2").cast("double") / nd - mu * mu)
    perMin.join(broadcast(m), Seq("event_type"))
      .withColumn("anom",
        when(abs(col("c").cast("double") - mu) > lit(AnomalyZ) * sd, 1L)
          .otherwise(0L))
      .groupBy("event_type")
      .agg(max(col("n_minutes")).as("n_minutes"),
        round(max(mu), 6).as("mean_per_min"),
        round(max(sd), 6).as("sd_per_min"),
        sum("anom").as("n_anomalous"),
        round(sum("anom").cast("double") / max(nd), 6).as("anom_share"))
      .orderBy("event_type")
  }

  val anomalyMinutesSql: String =
    s"""WITH pm AS (
       |  SELECT event_type, date_trunc('minute', ts) AS minute,
       |         COUNT(*) AS c
       |  FROM events GROUP BY 1, 2
       |), m AS (
       |  SELECT event_type, COUNT(*) AS n_minutes,
       |         SUM(c) AS s1, SUM(c * c) AS s2
       |  FROM pm GROUP BY 1
       |), d AS (
       |  SELECT pm.event_type, pm.c,
       |         m.n_minutes, m.n_minutes::DOUBLE AS nd,
       |         m.s1::DOUBLE / m.n_minutes::DOUBLE AS mu,
       |         sqrt(m.s2::DOUBLE / m.n_minutes::DOUBLE
       |              - (m.s1::DOUBLE / m.n_minutes::DOUBLE)
       |                * (m.s1::DOUBLE / m.n_minutes::DOUBLE)) AS sd
       |  FROM pm JOIN m USING (event_type)
       |)
       |SELECT event_type, CAST(MAX(n_minutes) AS BIGINT) AS n_minutes,
       |       round(MAX(mu), 6) AS mean_per_min,
       |       round(MAX(sd), 6) AS sd_per_min,
       |       CAST(SUM(CASE WHEN abs(c::DOUBLE - mu) > $AnomalyZ * sd
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
       |       round(SUM(CASE WHEN abs(c::DOUBLE - mu) > $AnomalyZ * sd
       |                      THEN 1 ELSE 0 END)::DOUBLE / MAX(nd), 6)
       |         AS anom_share
       |FROM d GROUP BY 1 ORDER BY event_type""".stripMargin

  /** q170 — hour-of-day seasonal profile + residual outliers: per
    * event type, learn the 24-slot seasonal mean of value from exact
    * integer-cents sums, subtract it, and count events whose residual
    * exceeds 3σ of the residual distribution — the "is this value
    * weird FOR 3AM" detector, which catches what q143/q77's global
    * fences cannot (a value normal at noon but absurd at night).
    * De-seasonalization is the first step of every STL-style
    * decomposition; this is its groupBy form.
    *
    * Everything derives from two (type, hour)-keyed and (type)-keyed
    * integer-moment aggregations (the q93/q104 discipline), the
    * 24-row seasonal table broadcast back — identical IEEE math both
    * engines, no window over raw events. */
  def seasonalResiduals(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
      .select(col("event_type"), hour(col("ts")).as("hr"),
        floor(col("value") * 100).cast("long").as("c"))
    val seasonal = ev.groupBy("event_type", "hr")
      .agg(count(lit(1)).as("n_h"), sum("c").as("s_h"))
      .select(col("event_type"), col("hr"),
        (col("s_h").cast("double") / col("n_h").cast("double")).as("mu_h"))
    val resid = ev.join(broadcast(seasonal), Seq("event_type", "hr"))
      .select(col("event_type"),
        (col("c").cast("double") - col("mu_h")).as("r"))
    // exact grid sums (q196 doctrine): the residual moments are float
    // folds feeding the round(6) sd and the 3σ outlier fence. Σr rides
    // the 1e6 BIGINT grid (|r| ≤ ~9e4 cents → |Σ| ≤ 9e16 at 1e6 rows);
    // Σr² rides a 1e6 grid folded as DECIMAL(38,0) — r²·1e6 ≤ 8.1e15
    // < 2^53 keeps the per-row round exact, and the decimal fold has
    // no int64 ceiling at ANY row count (the old 1e3 BIGINT grid both
    // sat 3 orders above the output grid and overflowed int64 at its
    // own documented bound). sd quantization error 2.5e-7/sd cents —
    // ≥3 orders below the 1e-4-cent output grid for sd ≥ 2.5 cents.
    val m = resid.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        Exact.sumG(col("r"), 1e6).as("s1g"),
        Exact.sumGDec(col("r") * col("r"), 1e6).as("s2g"))
    val nd = col("n").cast("double")
    val mu = col("s1g").cast("double") / 1e6 / nd
    val sd = sqrt(col("s2g").cast("double") / 1e6 / nd - mu * mu)
    resid.join(broadcast(m), Seq("event_type"))
      .groupBy("event_type")
      .agg(max("n").as("n_events"),
        round(max(sd) / 100.0, 6).as("resid_sd_value"),
        sum(when(abs(col("r") - mu) > lit(3.0) * sd, 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("event_type"), col("n_events"), col("resid_sd_value"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") /
          col("n_events").cast("double"), 6).as("outlier_share"))
      .orderBy("event_type")
  }

  val seasonalResidualsSql: String =
    s"""WITH ev AS (
      |  SELECT event_type, hour(ts) AS hr,
      |         floor(value * 100)::BIGINT AS c
      |  FROM events
      |), seasonal AS (
      |  SELECT event_type, hr, SUM(c)::DOUBLE / COUNT(*)::DOUBLE AS mu_h
      |  FROM ev GROUP BY 1, 2
      |), resid AS (
      |  SELECT ev.event_type, ev.c::DOUBLE - s.mu_h AS r
      |  FROM ev JOIN seasonal s USING (event_type, hr)
      |), m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |         ${Exact.sumGSql("r", "1e6")} AS s1g,
      |         ${Exact.sumGDecSql("r * r", "1e6")} AS s2g
      |  FROM resid GROUP BY 1
      |), d AS (
      |  SELECT r.event_type, r.r, m.n,
      |         CAST(m.s1g AS DOUBLE) / 1e6 / m.n::DOUBLE AS mu,
      |         sqrt(CAST(m.s2g AS DOUBLE) / 1e6 / m.n::DOUBLE
      |              - (CAST(m.s1g AS DOUBLE) / 1e6 / m.n::DOUBLE)
      |                * (CAST(m.s1g AS DOUBLE) / 1e6 / m.n::DOUBLE)) AS sd
      |  FROM resid r JOIN m USING (event_type)
      |)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
      |       round(MAX(sd) / 100.0, 6) AS resid_sd_value,
      |       CAST(SUM(CASE WHEN abs(r - mu) > 3.0 * sd THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_outliers,
      |       round(SUM(CASE WHEN abs(r - mu) > 3.0 * sd THEN 1 ELSE 0 END)
      |             ::DOUBLE / MAX(n)::DOUBLE, 6) AS outlier_share
      |FROM d GROUP BY 1 ORDER BY event_type""".stripMargin

  /** q171 — Spearman rank correlation WITHOUT a global window: does a
    * user's purchase frequency predict their revenue rank? Both
    * global rank columns come from [[Sampling.packOffsetsBy]]'s
    * two-phase prefix sum over a deterministic (metric, user_id)
    * order (the q145 machinery — range partition, partitioned intra
    * window, driver cumsum of one row per partition), then ρ is
    * Pearson over the INTEGER ranks via exact decimal moments: a
    * rank-based statistic at any user count with no single-task sort
    * anywhere. Ties break by user_id (row_number semantics,
    * documented — the engines agree because the order is total). */
  def spearman(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val u = ev.groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("freq"),
        sum(when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")).otherwise(0L)).as("rev"))
    def rankBy(metric: String) = Sampling.packOffsetsBy(
        u.withColumn("n_tokens", lit(1L)),
        Seq(col(metric).asc, col("user_id").asc))
      .select(col("user_id"), (col("start_off") + 1L).as(s"rk_$metric"))
    val ranked = rankBy("freq").join(rankBy("rev"), Seq("user_id"))
    val (x, y) = (col("rk_freq").cast("decimal(38,0)"),
      col("rk_rev").cast("decimal(38,0)"))
    val mo = ranked.agg(count(lit(1)).as("n"),
      sum(x).as("sx"), sum(x * x).as("sxx"),
      sum(y).as("sy"), sum(y * y).as("syy"), sum(x * y).as("sxy")).first()
    val n = mo.getLong(0).toDouble
    val Seq(sx, sxx, sy, syy, sxy) =
      (1 to 5).map(i => mo.getDecimal(i).doubleValue)
    val rho = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    import spark.implicits._
    Seq((mo.getLong(0),
        BigDecimal(rho).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      .toDF("n_users", "spearman_rho")
      .orderBy("n_users")
  }

  val spearmanSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |           AS freq,
      |         SUM(CASE WHEN event_type = 'purchase'
      |                  THEN floor(value * 100)::BIGINT ELSE 0 END) AS rev
      |  FROM events GROUP BY user_id
      |), r AS (
      |  SELECT user_id,
      |         row_number() OVER (ORDER BY freq, user_id) AS rx,
      |         row_number() OVER (ORDER BY rev, user_id) AS ry
      |  FROM u
      |), m AS (
      |  SELECT COUNT(*)::DOUBLE AS n,
      |         SUM(rx)::DOUBLE AS sx, SUM(rx * rx)::DOUBLE AS sxx,
      |         SUM(ry)::DOUBLE AS sy, SUM(ry * ry)::DOUBLE AS syy,
      |         SUM(rx * ry)::DOUBLE AS sxy,
      |         COUNT(*) AS n_users
      |  FROM r
      |)
      |SELECT n_users::BIGINT AS n_users,
      |       round((n * sxy - sx * sy) /
      |         sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
      |         AS spearman_rho
      |FROM m ORDER BY n_users""".stripMargin

  /** q173 — three-step ordered funnel: signup → view → purchase, each
    * step's event strictly after the previous step's FIRST qualifying
    * event (q50's two-step shape extended to the general ordered
    * funnel). Per-user stage timestamps fold in ONE conditional
    * aggregation pass — min(signup), then min(view after that), then
    * min(purchase after that) — computed as three chained per-user
    * aggs on the same user-keyed frame: no self-joins over events, no
    * per-user sort, just keyed min-combines. The output is the stage
    * table with conversion counts and drop-off rates. */
  def funnel3(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "view")
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    val (n1, n2, n3) = (s1.count(), s2.count(), s3.count())
    import spark.implicits._
    Seq(("1_signup", n1, n1), ("2_view_after", n1, n2),
        ("3_purchase_after", n2, n3))
      .toDF("stage", "entered", "converted")
      .select(col("stage"), col("entered"), col("converted"),
        round(col("converted").cast("double") /
          col("entered").cast("double"), 6).as("conversion_rate"))
      .orderBy("stage")
  }

  val funnel3Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1
      |), s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'view' AND e.ts > s1.t1
      |  GROUP BY 1
      |), s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |  GROUP BY 1
      |), t AS (
      |  SELECT (SELECT COUNT(*) FROM s1) AS n1,
      |         (SELECT COUNT(*) FROM s2) AS n2,
      |         (SELECT COUNT(*) FROM s3) AS n3
      |), f AS (
      |  SELECT '1_signup' AS stage, n1 AS entered, n1 AS converted FROM t
      |  UNION ALL SELECT '2_view_after', n1, n2 FROM t
      |  UNION ALL SELECT '3_purchase_after', n2, n3 FROM t
      |)
      |SELECT stage, entered::BIGINT AS entered,
      |       converted::BIGINT AS converted,
      |       round(converted::DOUBLE / entered::DOUBLE, 6)
      |         AS conversion_rate
      |FROM f ORDER BY stage""".stripMargin

  /** q175 — Winsorized mean per event type: clamp values to the
    * [p5, p95] envelope, then average — the robust central tendency
    * that keeps (unlike trimming) every observation's vote while
    * capping tail leverage; reported next to the raw mean so the gap
    * shows exactly how much the tails were steering. Completes the
    * robust family: q77 fences (IQR), q143 flags (MAD), q175 a
    * usable robust ESTIMATE.
    *
    * The p5/p95 cuts ride the q92-pinned exact percentile pair over
    * integer cents; the clamped sum uses each value's cents clamped
    * BETWEEN the two cut doubles — identical comparisons both
    * engines — and sums as 1e4-scaled integers (cut points are
    * ¼-exact dyadic interpolations of cents, so ×1e4 is integral),
    * keeping the cross-row sum order-independent. */
  def winsorizedMean(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("c"))
    val cuts = ev.groupBy("event_type")
      .agg(percentile(col("c"), lit(0.05)).as("lo"),
        percentile(col("c"), lit(0.95)).as("hi"))
    val clamped = greatest(col("lo"), least(col("hi"), col("c").cast("double")))
    ev.join(broadcast(cuts), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("c").as("s_raw"),
        sum(round(clamped * 1e4, 0).cast("long")).as("s_wins"))
      .select(col("event_type"), col("n"),
        round(col("s_raw").cast("double") / col("n").cast("double")
          / 100.0, 6).as("raw_mean"),
        round(col("s_wins").cast("double") / 1e4 /
          col("n").cast("double") / 100.0, 6).as("winsorized_mean"))
      .orderBy("event_type")
  }

  val winsorizedMeanSql: String =
    """WITH ev AS (
      |  SELECT event_type, floor(value * 100)::BIGINT AS c FROM events
      |), cuts AS (
      |  SELECT event_type, quantile_cont(c, 0.05) AS lo,
      |         quantile_cont(c, 0.95) AS hi
      |  FROM ev GROUP BY 1
      |)
      |SELECT ev.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |       round(SUM(ev.c)::DOUBLE / COUNT(*)::DOUBLE / 100.0, 6)
      |         AS raw_mean,
      |       round(SUM(round(greatest(cuts.lo,
      |               least(cuts.hi, ev.c::DOUBLE)) * 1e4)::BIGINT)::DOUBLE
      |             / 1e4 / COUNT(*)::DOUBLE / 100.0, 6)
      |         AS winsorized_mean
      |FROM ev JOIN cuts USING (event_type)
      |GROUP BY 1 ORDER BY ev.event_type""".stripMargin

  /** q158 — session quality rollup: the product-analytics vitals over
    * q20/q140's sessionization — sessions, bounce rate (single-event
    * sessions), events per session, and the median session duration —
    * split by whether the session converted (contains a purchase).
    * This is the table growth teams watch daily; the split is the
    * engagement-vs-conversion read.
    *
    * Scale shape: the q140 lag+cumsum sessionization (one user-keyed
    * shuffle), then ONE (user, session) aggregate carrying length,
    * duration, and the conversion flag, then a 2-row rollup; the
    * median rides the pinned exact percentile over integer seconds. */
  def sessionQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val flagged = ev.withColumn("prev", lag(col("ts"), 1).over(wu))
      .withColumn("new_session",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) >= 1800000000L,
          1L).otherwise(0L))
    val wcum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = flagged
      .withColumn("session_id", sum("new_session").over(wcum))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          / lit(1000000L)).cast("long").as("dur_s"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
    s.groupBy("converted")
      .agg(count(lit(1)).as("n_sessions"),
        round(sum(when(col("n_events") === 1, 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 6)
          .as("bounce_rate"),
        round(sum("n_events").cast("double") / count(lit(1)).cast("double"),
          6).as("events_per_session"),
        round(percentile(col("dur_s"), lit(0.5)), 2).as("median_dur_s"))
      .orderBy("converted")
  }

  val sessionQualitySql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
      |                                      ORDER BY ts, event_id)
      |                   >= INTERVAL 30 MINUTE
      |              OR LAG(ts) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |), grp AS (
      |  SELECT user_id, ts, event_type,
      |         SUM(new_session) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
      |           AS session_id
      |  FROM marked
      |), s AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |         ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000)::BIGINT
      |           AS dur_s,
      |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |           AS converted
      |  FROM grp GROUP BY 1, 2
      |)
      |SELECT converted::BIGINT AS converted,
      |       CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |       round(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::DOUBLE
      |             / COUNT(*)::DOUBLE, 6) AS bounce_rate,
      |       round(SUM(n_events)::DOUBLE / COUNT(*)::DOUBLE, 6)
      |         AS events_per_session,
      |       round(quantile_cont(dur_s, 0.5), 2) AS median_dur_s
      |FROM s GROUP BY 1 ORDER BY converted""".stripMargin

  /** q199 — LINEAR multi-touch attribution (the q146 counterpart): each
    * purchase's revenue splits EQUALLY across the distinct non-purchase
    * touch types the user produced in the 7 days before it. The split
    * stays integer-exact on both engines: cents × 10⁶ div k (identical
    * integer division), summed as longs, divided back out only at the
    * display edge — no FP accumulation can drift the hash.
    *
    * Scale shape: the purchase×touch pairing is an equi join ON user_id
    * with the time-range predicate applied inside the joined partition
    * (per-user history is the bounded dimension, the as-of/interval
    * family shape), then one distinct + two hash aggs. Purchases with
    * no in-window touch drop out (they have no attribution target).
    */
  def linearAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts").as("pts"),
        floor(col("value") * 100).cast("long").as("cents"))
    val touch = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("touch"),
        col("ts").as("tts"))
    val pairs = purch.join(touch, Seq("user_id"))
      .filter(col("tts") < col("pts") &&
        col("tts") >= col("pts") - expr("INTERVAL 7 DAYS"))
      .select(col("event_id"), col("cents"), col("touch"))
      .distinct()
    val k = pairs.groupBy("event_id")
      .agg(count(lit(1)).as("k"))
    pairs.join(k, Seq("event_id"))
      .select(col("touch"), col("event_id"),
        expr("(cents * 1000000) div k").as("micro"))
      .groupBy("touch")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("micro")).cast("double") / 1e8, 6)
          .as("attributed_revenue"))
      .orderBy("touch")
  }

  val linearAttributionSql: String =
    """WITH purch AS (
      |  SELECT user_id, event_id, ts AS pts,
      |         CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'
      |), touch AS (
      |  SELECT user_id, event_type AS touch, ts AS tts
      |  FROM events WHERE event_type <> 'purchase'
      |), pairs AS (
      |  SELECT DISTINCT p.event_id, p.cents, t.touch
      |  FROM purch p JOIN touch t ON p.user_id = t.user_id
      |  WHERE t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY
      |), kk AS (
      |  SELECT event_id, COUNT(*) AS k FROM pairs GROUP BY 1
      |)
      |SELECT touch, COUNT(*) AS n_purchases,
      |       round(CAST(SUM((cents * 1000000) // k) AS DOUBLE) / 1e8, 6)
      |         AS attributed_revenue
      |FROM pairs JOIN kk USING (event_id)
      |GROUP BY 1 ORDER BY touch""".stripMargin

  /** q213 — CUSUM changepoint per event type: the day where the
    * cumulative deviation of daily volume from the type's mean peaks —
    * the standard level-shift detector a pipeline runs over ingest
    * volumes. All arithmetic is cleared of division: the statistic is
    * scaled by n_days (cusum_scaled = n·S_t − t·total, exact BIGINT),
    * so the argmax and its tie-break (|scaled| DESC, day ASC) are
    * integer decisions both engines make identically; the double
    * `cusum` column divides the exact int by n once at the edge.
    * Scale shape: the daily rollup collapses the event scan map-side
    * to |types|×|days| rows; every window after it is partitioned by
    * event_type over that calendar-bounded frame — never over events.
    */
  def cusumChangepoints(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = loadEvents(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wIdx = Window.partitionBy("event_type").orderBy("day")
    val tot = daily.groupBy("event_type")
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_days"))
    val cusum = daily
      .withColumn("s", sum(col("cnt")).over(wCum))
      .withColumn("t", row_number().over(wIdx).cast("long"))
      .join(tot, Seq("event_type"))
      .withColumn("cusum_scaled",
        col("n_days") * col("s") - col("t") * col("total"))
    val wPick = Window.partitionBy("event_type")
      .orderBy(abs(col("cusum_scaled")).desc, col("day"))
    cusum.withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("cp_day"),
        col("cusum_scaled"), col("n_days"),
        (col("cusum_scaled").cast("double") / col("n_days")).as("cusum"))
      .orderBy("event_type")
  }

  val cusumChangepointsSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |), tot AS (
      |  SELECT event_type, SUM(cnt) AS total, COUNT(*) AS n_days
      |  FROM daily GROUP BY 1
      |), cs AS (
      |  SELECT d.event_type, d.day,
      |         SUM(d.cnt) OVER (PARTITION BY d.event_type ORDER BY d.day
      |                          ROWS UNBOUNDED PRECEDING) AS s,
      |         CAST(row_number() OVER (PARTITION BY d.event_type
      |                                 ORDER BY d.day) AS BIGINT) AS t,
      |         t2.total, t2.n_days
      |  FROM daily d JOIN tot t2 USING (event_type)
      |), scaled AS (
      |  SELECT event_type, day,
      |         n_days * s - t * total AS cusum_scaled, n_days,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY abs(n_days * s - t * total) DESC,
      |                                     day) AS rk
      |  FROM cs
      |)
      |SELECT event_type, day AS cp_day, CAST(cusum_scaled AS BIGINT)
      |         AS cusum_scaled,
      |       n_days,
      |       CAST(cusum_scaled AS DOUBLE) / n_days AS cusum
      |FROM scaled WHERE rk = 1
      |ORDER BY event_type""".stripMargin

  /** q215 — out-of-order ingest audit: per event-time day, how many
    * events arrived LATE — event_id is the arrival sequence, so an
    * event is out of order when its timestamp precedes the running
    * max timestamp of the same user's earlier arrivals. This is the
    * health metric that sizes a streaming watermark. Scale shape: one
    * per-user window (partitioned by user_id, ordered by arrival,
    * running MAX over the preceding frame — never global), then a
    * |days|-sized rollup; exact timestamp comparisons, zero FP until
    * the final rate division.
    */
  def outOfOrderAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    loadEvents(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_max", max(col("ts")).over(w))
      .select(to_date(col("ts")).as("day"),
        (col("prev_max").isNotNull && col("ts") < col("prev_max"))
          .as("ooo"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("ooo"), 1L).otherwise(0L)).as("n_out_of_order"))
      .withColumn("ooo_rate",
        round(col("n_out_of_order").cast("double") /
          col("n_events").cast("double"), 6))
      .orderBy("day")
  }

  val outOfOrderAuditSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_id, ts,
      |         MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING
      |                       AND 1 PRECEDING) AS prev_max
      |  FROM events
      |)
      |SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
      |       CAST(SUM(CASE WHEN prev_max IS NOT NULL AND ts < prev_max
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
      |       round(CAST(SUM(CASE WHEN prev_max IS NOT NULL AND ts < prev_max
      |                           THEN 1 ELSE 0 END) AS DOUBLE)
      |             / CAST(COUNT(*) AS DOUBLE), 6) AS ooo_rate
      |FROM seq GROUP BY 1 ORDER BY day""".stripMargin

  /** Candidate dedup-state TTLs swept by q218, in minutes. */
  val DedupTtlsMin: Seq[Int] = Seq(60, 360, 1440)

  /** q218 — streaming-dedup state-TTL sweep: a streaming
    * `dropDuplicates` on (user_id, event_type) keeps per-key state
    * only for its watermark TTL; this sweep reports, per candidate
    * TTL, how many events repeat their key WITHIN the TTL (and would
    * be suppressed as duplicates) — the state-size-vs-suppression
    * trade the TTL choice is about. The repeat gap is an exact
    * integer-microsecond LAG per (user, type), ordered by event time
    * with the arrival-id tiebreak; each event map-side explodes only
    * the TTLs that would suppress it (literal-array filter, q209's
    * no-join sweep shape), and the rollup is |TTLs|-sized.
    */
  def dedupTtlSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    val ev = loadEvents(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    val total = ev.count() // 1-value anchor, interpolated literally
    val gaps = ev
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap_us").isNotNull)
    val ttls = array(DedupTtlsMin.map(lit): _*)
    gaps
      .select(explode(filter(ttls,
        t => col("gap_us") <= t.cast("long") * 60000000L)).as("ttl_min"))
      .groupBy("ttl_min")
      .agg(count(lit(1)).as("n_suppressed"))
      .withColumn("suppress_rate",
        round(col("n_suppressed").cast("double") / lit(total.toDouble), 6))
      .orderBy("ttl_min")
  }

  val dedupTtlSweepSql: String = {
    val list = DedupTtlsMin.mkString(", ")
    s"""WITH seq AS (
       |  SELECT epoch_us(ts) - epoch_us(LAG(ts) OVER (
       |           PARTITION BY user_id, event_type
       |           ORDER BY ts, event_id)) AS gap_us
       |  FROM events
       |), tot AS (SELECT COUNT(*) AS n FROM events),
       |d AS (SELECT unnest([$list]) AS ttl_min),
       |sup AS (
       |  SELECT d.ttl_min, COUNT(*) AS n_suppressed
       |  FROM seq, d
       |  WHERE seq.gap_us IS NOT NULL
       |    AND seq.gap_us <= CAST(d.ttl_min AS BIGINT) * 60000000
       |  GROUP BY 1
       |)
       |SELECT ttl_min, n_suppressed,
       |       round(CAST(n_suppressed AS DOUBLE) / CAST(tot.n AS DOUBLE), 6)
       |         AS suppress_rate
       |FROM sup, tot ORDER BY ttl_min""".stripMargin
  }

  /** Session inactivity gaps swept by q219, in minutes. */
  val SessionGapsMin: Seq[Int] = Seq(15, 30, 60)

  /** q219 — session-gap sensitivity: how many sessions the corpus
    * splits into at each candidate inactivity threshold — the tuning
    * sweep behind q20's fixed 30-minute choice. Per user, a session
    * break at threshold T is a LAG gap above T·60s (exact integer
    * microseconds), so sessions(T) = |users| + Σ breaks(T). Each gap
    * map-side explodes only the thresholds it breaks (literal-array
    * filter, no join); the per-user window is partitioned and the
    * final rollup is |thresholds|-sized.
    */
  def sessionGapSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = loadEvents(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"))
    val nUsers =
      ev.select(countDistinct(col("user_id"))).head.getLong(0)
    val gaps = ev
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap_us").isNotNull)
    val gapsArr = array(SessionGapsMin.map(lit): _*)
    gaps
      .select(explode(filter(gapsArr,
        t => col("gap_us") > t.cast("long") * 60000000L)).as("gap_min"))
      .groupBy("gap_min")
      .agg(count(lit(1)).as("n_breaks"))
      .select(col("gap_min"), col("n_breaks"),
        (col("n_breaks") + lit(nUsers)).as("n_sessions"))
      .orderBy("gap_min")
  }

  val sessionGapSweepSql: String = {
    val list = SessionGapsMin.mkString(", ")
    s"""WITH seq AS (
       |  SELECT epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
       |                       ORDER BY ts, event_id)) AS gap_us
       |  FROM events
       |), u AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events),
       |g AS (SELECT unnest([$list]) AS gap_min),
       |brk AS (
       |  SELECT g.gap_min, COUNT(*) AS n_breaks
       |  FROM seq, g
       |  WHERE seq.gap_us IS NOT NULL
       |    AND seq.gap_us > CAST(g.gap_min AS BIGINT) * 60000000
       |  GROUP BY 1
       |)
       |SELECT gap_min, n_breaks, n_breaks + u.nu AS n_sessions
       |FROM brk, u ORDER BY gap_min""".stripMargin
  }

  /** q232 — Kaplan–Meier signup→purchase survival with right
    * censoring: each signed-up user contributes a duration — days from
    * first signup to first subsequent purchase (an EVENT), or to the
    * end of the observation window (CENSORED, the users q50's binary
    * funnel throws away). Per exit day t: the at-risk count, events,
    * censored exits, the discrete hazard d_t/n_t, and the KM survival
    * curve S(t) = Π_{s≤t}(1 − d_s/n_s) — time-to-conversion analysis
    * that stays honest about users who simply haven't converted YET,
    * the standard estimator (Kaplan & Meier 1958) none of the funnel/
    * cohort queries (q50/q53/q173) covers.
    *
    * Scale shape: two pushed-down type filters → a per-user min
    * aggregate and a conditional-min join (user-keyed, co-partitioned);
    * everything after lives on the exit-DAY table — bounded by
    * elapsed calendar, never by user count — so its ordered windows
    * are q58's calendar-bounded shape (PlanSpec-exempt by that
    * argument). Survival exponentiates an ordered cumulative sum of
    * identical doubles (the q90 ordered-fold determinism), with an
    * h = 1 guard so neither engine ever takes ln(0). */
  def kmSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val per = su.join(pu, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("s_ts"))
      .agg(min(when(col("p_ts") >= col("s_ts"), col("p_ts"))).as("fp_ts"))
    val censor = ev.agg(max(to_date(col("ts"))).as("c_day"))
    val dur = per.crossJoin(broadcast(censor))
      .select(
        when(col("fp_ts").isNotNull,
          datediff(to_date(col("fp_ts")), to_date(col("s_ts"))))
          .otherwise(datediff(col("c_day"), to_date(col("s_ts"))))
          .cast("long").as("t_days"),
        col("fp_ts").isNotNull.cast("long").as("ev"))
    val byT = dur.groupBy("t_days")
      .agg(sum(col("ev")).as("n_events"),
        sum(lit(1L) - col("ev")).as("n_censored"))
    val n = dur.agg(count(lit(1)).as("n_total"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t_days")
    val before = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val upto = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val exits = col("n_events") + col("n_censored")
    byT.crossJoin(broadcast(n))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(exits).over(before), lit(0L)))
      .withColumn("h",
        col("n_events").cast("double") / col("n_risk").cast("double"))
      .withColumn("logsum",
        sum(when(col("h") < 1.0, log(lit(1.0) - col("h")))
          .otherwise(lit(0.0))).over(upto))
      .withColumn("dead", max((col("h") >= 1.0).cast("int")).over(upto))
      .select(col("t_days"), col("n_risk"), col("n_events"),
        col("n_censored"), round(col("h"), 6).as("hazard"),
        round(when(col("dead") === 1, lit(0.0))
          .otherwise(exp(col("logsum"))), 6).as("survival"))
      .orderBy("t_days")
  }

  val kmSurvivalSql: String =
    """WITH su AS (
      |  SELECT user_id, make_timestamp(epoch_us(MIN(ts))) AS s_ts
      |  FROM events WHERE event_type = 'signup' GROUP BY 1
      |), pu AS (
      |  SELECT user_id, make_timestamp(epoch_us(ts)) AS p_ts
      |  FROM events WHERE event_type = 'purchase'
      |), per AS (
      |  SELECT su.user_id, su.s_ts,
      |         MIN(CASE WHEN pu.p_ts >= su.s_ts THEN pu.p_ts END) AS fp_ts
      |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id
      |  GROUP BY 1, 2
      |), censor AS (
      |  SELECT CAST(MAX(make_timestamp(epoch_us(ts))) AS DATE) AS c_day
      |  FROM events
      |), dur AS (
      |  SELECT CASE WHEN fp_ts IS NOT NULL
      |           THEN date_diff('day', CAST(s_ts AS DATE), CAST(fp_ts AS DATE))
      |           ELSE date_diff('day', CAST(s_ts AS DATE), c_day)
      |         END AS t_days,
      |         CASE WHEN fp_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM per CROSS JOIN censor
      |), byt AS (
      |  SELECT t_days, CAST(SUM(ev) AS BIGINT) AS n_events,
      |         CAST(SUM(1 - ev) AS BIGINT) AS n_censored
      |  FROM dur GROUP BY 1
      |), n AS (SELECT COUNT(*) AS n_total FROM dur),
      |risk AS (
      |  SELECT t_days, n_events, n_censored,
      |         n_total - COALESCE(SUM(n_events + n_censored) OVER (
      |           ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND 1 PRECEDING), 0) AS n_risk
      |  FROM byt CROSS JOIN n
      |), haz AS (
      |  SELECT t_days, n_risk, n_events, n_censored,
      |         n_events::DOUBLE / n_risk::DOUBLE AS h
      |  FROM risk
      |), acc AS (
      |  SELECT t_days, n_risk, n_events, n_censored, h,
      |         SUM(CASE WHEN h < 1.0 THEN ln(1.0 - h) ELSE 0.0 END)
      |           OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
      |                 AND CURRENT ROW) AS logsum,
      |         MAX(CASE WHEN h >= 1.0 THEN 1 ELSE 0 END)
      |           OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
      |                 AND CURRENT ROW) AS dead
      |  FROM haz
      |)
      |SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk, n_events,
      |       n_censored, round(h, 6) AS hazard,
      |       round(CASE WHEN dead = 1 THEN 0.0 ELSE exp(logsum) END, 6)
      |         AS survival
      |FROM acc ORDER BY t_days""".stripMargin

  /** q236 — two-sample log-rank test between experiment arms (the
    * inference companion to q232's KM curve and the time-to-event
    * face of the q138/q235 A/B family): users split by the md5
    * variant hash, compared on time-to-first-purchase with right
    * censoring. At every event day the test accumulates observed vs
    * expected events under the null (events split by the at-risk
    * proportions) and the hypergeometric variance; χ² = (O−E)²/ΣV,
    * df = 1 (Mantel 1966 — the standard "are these two survival
    * curves the same" test). Unlike comparing conversion RATES at a
    * fixed horizon, censoring keeps every not-yet-converted user in
    * the estimate on both sides.
    *
    * Scale shape: per-user reduction as q232, then EVERYTHING lives on
    * the exit-day table (calendar-bounded; its ordered cumulations are
    * the q58 shape, PlanSpec-exempt) and one scalar aggregate. The
    * n > 1 guard keeps the variance term defined on the final exit
    * day. */
  def logRank(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val d1 = ev.agg(max(to_date(col("ts")))).first().getDate(0)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val per = su.join(pu, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("s_ts"))
      .agg(min(when(col("p_ts") >= col("s_ts"), col("p_ts"))).as("fp_ts"))
      .select(
        when(col("fp_ts").isNotNull,
          datediff(to_date(col("fp_ts")), to_date(col("s_ts"))))
          .otherwise(datediff(lit(d1), to_date(col("s_ts"))))
          .cast("long").as("t_days"),
        col("fp_ts").isNotNull.cast("long").as("ev"),
        ((conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2) === 0).as("early"))
    val byT = per.groupBy("t_days").agg(
      sum(when(col("early"), col("ev")).otherwise(0L)).as("d_a"),
      sum(when(col("early"), lit(1L) - col("ev")).otherwise(0L)).as("c_a"),
      sum(when(!col("early"), col("ev")).otherwise(0L)).as("d_b"),
      sum(when(!col("early"), lit(1L) - col("ev")).otherwise(0L)).as("c_b"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t_days")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val tot = per.agg(
      sum(when(col("early"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("early"), 1L).otherwise(0L)).as("nb")).first()
    val (na0, nb0) = (tot.getLong(0), tot.getLong(1))
    val risks = byT
      .withColumn("n_a", lit(na0) -
        coalesce(sum(col("d_a") + col("c_a")).over(w), lit(0L)))
      .withColumn("n_b", lit(nb0) -
        coalesce(sum(col("d_b") + col("c_b")).over(w), lit(0L)))
    val d = (col("d_a") + col("d_b")).cast("double")
    val nA = col("n_a").cast("double"); val nB = col("n_b").cast("double")
    val n = nA + nB
    val e = d * nA / n
    val v = when(n > 1.0,
      d * (nA / n) * (lit(1.0) - nA / n) * (n - d) / (n - lit(1.0)))
      .otherwise(lit(0.0))
    val s = risks.filter(col("d_a") + col("d_b") > 0)
      .agg(sum(col("d_a").cast("double")).as("o_a"), sum(e).as("e_a"),
        sum(col("d_b").cast("double")).as("o_b"),
        sum(d - e).as("e_b_comp"), sum(v).as("vv")).first()
    val (oa, ea, ob, vv) =
      (s.getDouble(0), s.getDouble(1), s.getDouble(2), s.getDouble(4))
    val eb = s.getDouble(3) // Σd − Σe_a = expected for late cohort
    // degenerate design (every event day one-sided → V = 0) carries no
    // evidence: report chi2 = 0 rather than 0/0 (same guard in SQL)
    val chi2 = if (vv > 0.0) (oa - ea) * (oa - ea) / vv else 0.0
    import spark.implicits._
    Seq(
      ("arm_a", na0, oa, ea, BigDecimal(chi2)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        chi2 > 3.841),
      ("arm_b", nb0, ob, eb, BigDecimal(chi2)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        chi2 > 3.841))
      .toDF("cohort", "n_users", "observed", "expected_raw", "chi2",
        "different")
      .select(col("cohort"), col("n_users"), col("observed").cast("long"),
        round(col("expected_raw"), 4).as("expected"), col("chi2"),
        col("different"))
      .orderBy("cohort")
  }

  val logRankSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |         make_timestamp(epoch_us(ts)) AS tts
      |  FROM events
      |), bounds AS (
      |  SELECT MAX(CAST(tts AS DATE)) AS d1 FROM e
      |), su AS (
      |  SELECT user_id, MIN(tts) AS s_ts FROM e
      |  WHERE event_type = 'signup' GROUP BY 1
      |), pu AS (
      |  SELECT user_id, tts AS p_ts FROM e WHERE event_type = 'purchase'
      |), per AS (
      |  SELECT su.user_id, su.s_ts,
      |         MIN(CASE WHEN pu.p_ts >= su.s_ts THEN pu.p_ts END) AS fp_ts
      |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id
      |  GROUP BY 1, 2
      |), dur AS (
      |  SELECT CASE WHEN fp_ts IS NOT NULL
      |           THEN date_diff('day', CAST(s_ts AS DATE), CAST(fp_ts AS DATE))
      |           ELSE date_diff('day', CAST(s_ts AS DATE), b.d1)
      |         END AS t_days,
      |         CASE WHEN fp_ts IS NOT NULL THEN 1 ELSE 0 END AS ev,
      |         ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT
      |           % 2 = 0 AS early
      |  FROM per CROSS JOIN bounds b
      |), byt AS (
      |  SELECT t_days,
      |         SUM(CASE WHEN early THEN ev ELSE 0 END) AS d_a,
      |         SUM(CASE WHEN early THEN 1 - ev ELSE 0 END) AS c_a,
      |         SUM(CASE WHEN NOT early THEN ev ELSE 0 END) AS d_b,
      |         SUM(CASE WHEN NOT early THEN 1 - ev ELSE 0 END) AS c_b
      |  FROM dur GROUP BY 1
      |), tot AS (
      |  SELECT SUM(CASE WHEN early THEN 1 ELSE 0 END) AS na0,
      |         SUM(CASE WHEN NOT early THEN 1 ELSE 0 END) AS nb0
      |  FROM dur
      |), risk AS (
      |  SELECT t_days, d_a, d_b,
      |         na0 - COALESCE(SUM(d_a + c_a) OVER (ORDER BY t_days
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS n_a,
      |         nb0 - COALESCE(SUM(d_b + c_b) OVER (ORDER BY t_days
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS n_b
      |  FROM byt CROSS JOIN tot
      |), terms AS (
      |  SELECT d_a::DOUBLE AS da, d_b::DOUBLE AS db,
      |         (d_a + d_b)::DOUBLE AS d,
      |         n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
      |         (n_a + n_b)::DOUBLE AS n
      |  FROM risk WHERE d_a + d_b > 0
      |), s AS (
      |  SELECT SUM(da) AS o_a, SUM(d * na / n) AS e_a,
      |         SUM(db) AS o_b, SUM(d - d * na / n) AS e_b,
      |         SUM(CASE WHEN n > 1.0 THEN
      |               d * (na / n) * (1.0 - na / n) * (n - d) / (n - 1.0)
      |             ELSE 0.0 END) AS vv
      |  FROM terms
      |)
      |SELECT * FROM (
      |  SELECT 'arm_a' AS cohort, CAST(tot.na0 AS BIGINT) AS n_users,
      |         CAST(s.o_a AS BIGINT) AS observed,
      |         round(s.e_a, 4) AS expected,
      |         round(CASE WHEN s.vv > 0
      |           THEN (s.o_a - s.e_a) * (s.o_a - s.e_a) / s.vv
      |           ELSE 0.0 END, 4) AS chi2,
      |         CASE WHEN s.vv > 0
      |           THEN (s.o_a - s.e_a) * (s.o_a - s.e_a) / s.vv
      |           ELSE 0.0 END > 3.841 AS different
      |  FROM s CROSS JOIN tot
      |  UNION ALL
      |  SELECT 'arm_b', CAST(tot.nb0 AS BIGINT),
      |         CAST(s.o_b AS BIGINT), round(s.e_b, 4),
      |         round(CASE WHEN s.vv > 0
      |           THEN (s.o_a - s.e_a) * (s.o_a - s.e_a) / s.vv
      |           ELSE 0.0 END, 4),
      |         CASE WHEN s.vv > 0
      |           THEN (s.o_a - s.e_a) * (s.o_a - s.e_a) / s.vv
      |           ELSE 0.0 END > 3.841
      |  FROM s CROSS JOIN tot
      |) ORDER BY cohort""".stripMargin

  /** q237 — forecast backtest: score the two standard zero-parameter
    * baselines every revenue forecast must beat — naive (yesterday's
    * value) and seasonal-naive (same weekday last week) — against the
    * actual daily purchase revenue, on exactly the days where both
    * have history. Emits per method the MAE, sMAPE, and signed bias.
    * This is the eval harness side of forecasting (a model that can't
    * beat seasonal-naive isn't a model); the M-competition protocol in
    * one query.
    *
    * Scale shape: the corpus scan collapses to the daily revenue
    * table; the day axis is DENSIFIED (1-row min/max anchor →
    * sequence-explode → left join, zero-revenue fill) so lag(7) is
    * truly "same weekday last week" even across zero-purchase days;
    * lags and errors live entirely on that calendar-bounded frame
    * (the q58 window argument, PlanSpec-exempt), in exact integer
    * cents until the final rounded means. sMAPE guards the 0/0 day
    * (forecast = actual = 0 counts as a perfect hit, term 0). */
  def forecastBacktest(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val daily = ev.filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
    val axis = daily.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("day"))
    val dense = axis.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
    val lagged = dense
      .withColumn("f_naive", lag(col("cents"), 1).over(w))
      .withColumn("f_snaive", lag(col("cents"), 7).over(w))
      .filter(col("f_naive").isNotNull && col("f_snaive").isNotNull)
    def score(f: Column, nm: String): DataFrame = {
      val a = col("cents").cast("double")
      val fd = f.cast("double")
      lagged.agg(count(lit(1)).as("n_days"),
          round(avg(abs(fd - a)) / 100.0, 4).as("mae"),
          round(avg(when(abs(fd) + abs(a) > 0.0,
              lit(2.0) * abs(fd - a) / (abs(fd) + abs(a)))
            .otherwise(0.0)), 6).as("smape"),
          round(avg(fd - a) / 100.0, 4).as("bias"))
        .select(lit(nm).as("method"), col("n_days"), col("mae"),
          col("smape"), col("bias"))
    }
    score(col("f_naive"), "naive")
      .union(score(col("f_snaive"), "seasonal_naive"))
      .orderBy("method")
  }

  val forecastBacktestSql: String =
    """WITH daily AS (
      |  SELECT CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day,
      |         SUM(CAST(floor(value * 100) AS BIGINT)) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |), span AS (
      |  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily
      |), axis AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |           CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span
      |), dense AS (
      |  SELECT a.day, COALESCE(d.cents, 0) AS cents
      |  FROM axis a LEFT JOIN daily d USING (day)
      |), lagged AS (
      |  SELECT cents,
      |         LAG(cents, 1) OVER (ORDER BY day) AS f_naive,
      |         LAG(cents, 7) OVER (ORDER BY day) AS f_snaive
      |  FROM dense
      |), b AS (
      |  SELECT * FROM lagged
      |  WHERE f_naive IS NOT NULL AND f_snaive IS NOT NULL
      |)
      |SELECT * FROM (
      |  SELECT 'naive' AS method, COUNT(*) AS n_days,
      |         round(AVG(abs(f_naive::DOUBLE - cents::DOUBLE)) / 100.0, 4)
      |           AS mae,
      |         round(AVG(CASE WHEN abs(f_naive::DOUBLE)
      |                           + abs(cents::DOUBLE) > 0.0
      |               THEN 2.0 * abs(f_naive::DOUBLE - cents::DOUBLE)
      |                    / (abs(f_naive::DOUBLE) + abs(cents::DOUBLE))
      |               ELSE 0.0 END), 6)
      |           AS smape,
      |         round(AVG(f_naive::DOUBLE - cents::DOUBLE) / 100.0, 4)
      |           AS bias
      |  FROM b
      |  UNION ALL
      |  SELECT 'seasonal_naive', COUNT(*),
      |         round(AVG(abs(f_snaive::DOUBLE - cents::DOUBLE)) / 100.0, 4),
      |         round(AVG(CASE WHEN abs(f_snaive::DOUBLE)
      |                           + abs(cents::DOUBLE) > 0.0
      |               THEN 2.0 * abs(f_snaive::DOUBLE - cents::DOUBLE)
      |                    / (abs(f_snaive::DOUBLE) + abs(cents::DOUBLE))
      |               ELSE 0.0 END), 6),
      |         round(AVG(f_snaive::DOUBLE - cents::DOUBLE) / 100.0, 4)
      |  FROM b
      |) ORDER BY method""".stripMargin

  /** q235 — CUPED variance-reduced A/B readout (Deng et al., WSDM'13):
    * the experiment metric is post-period purchase revenue per user;
    * the pre-period revenue of the SAME user is the control covariate.
    * θ = cov(X,Y)/var(X) (pooled), each user's adjusted metric is
    * Y − θ·(X − X̄), and the z-test runs on the adjusted means — same
    * comparison as q138's plain Welch, but with the between-user
    * variance that the pre-period explains removed. Reports θ, the
    * achieved variance reduction (= ρ² when θ is optimal), and both
    * the plain and CUPED z so the reader sees what the adjustment
    * bought. The observation window splits at the midpoint of the
    * observed calendar (a data-derived integer anchor, no wall clock).
    *
    * Float policy: ALL sums are exact integer-cents moments in
    * DECIMAL(38,0) (q138's discipline, extended to cross-moments);
    * every decimal casts to double at the same point and flows through
    * one shared IEEE expression sequence; rounds at the edge.
    *
    * Scale shape: one scan → per-user conditional-sum aggregate (the
    * variant is md5 parity, map-side) → ONE 12-column moment
    * aggregate; everything after is scalar arithmetic on a 1-row
    * frame. */
  def cuped(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val anchor = ev.agg(min(to_date(col("ts"))).as("d0"),
      max(to_date(col("ts"))).as("d1")).first()
    val (d0, d1) = (anchor.getDate(0), anchor.getDate(1))
    val splitDays = ((d1.toLocalDate.toEpochDay -
      d0.toLocalDate.toEpochDay) / 2).toInt
    val splitDay = java.sql.Date.valueOf(
      d0.toLocalDate.plusDays(splitDays.toLong))
    val cents = floor(col("value") * 100).cast("long")
    val isP = col("event_type") === "purchase"
    val users = ev.groupBy("user_id")
      .agg(sum(when(isP && to_date(col("ts")) < lit(splitDay), cents)
        .otherwise(0L)).as("x"),
        sum(when(isP && to_date(col("ts")) >= lit(splitDay), cents)
          .otherwise(0L)).as("y"))
      .select(col("x"), col("y"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2).as("variant"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def side(v: Int, nm: String): Seq[Column] = Seq(
      sum(when(col("variant") === v, 1L).otherwise(0L)).as(s"n_$nm"),
      sum(when(col("variant") === v, dec(col("x")))
        .otherwise(lit(0).cast("decimal(38,0)"))).as(s"sx_$nm"),
      sum(when(col("variant") === v, dec(col("y")))
        .otherwise(lit(0).cast("decimal(38,0)"))).as(s"sy_$nm"),
      sum(when(col("variant") === v, dec(col("x")) * dec(col("x")))
        .otherwise(lit(0).cast("decimal(38,0)"))).as(s"sxx_$nm"),
      sum(when(col("variant") === v, dec(col("x")) * dec(col("y")))
        .otherwise(lit(0).cast("decimal(38,0)"))).as(s"sxy_$nm"),
      sum(when(col("variant") === v, dec(col("y")) * dec(col("y")))
        .otherwise(lit(0).cast("decimal(38,0)"))).as(s"syy_$nm"))
    val m = users.agg((side(0, "a") ++ side(1, "b")).head,
      (side(0, "a") ++ side(1, "b")).tail: _*)
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val n = na + nb
    val sx = (col("sx_a") + col("sx_b")).cast("double")
    val sy = (col("sy_a") + col("sy_b")).cast("double")
    val sxx = (col("sxx_a") + col("sxx_b")).cast("double")
    val sxy = (col("sxy_a") + col("sxy_b")).cast("double")
    val syy = (col("syy_a") + col("syy_b")).cast("double")
    val varX = sxx - sx * sx / n
    val covXY = sxy - sx * sy / n
    val varY = syy - sy * sy / n
    val theta = covXY / varX
    // per-variant adjusted metric z = y - theta*x (the +theta*X̄ shift
    // is a global constant: it cancels in the A-B difference)
    def zStats(nm: String, nv: Column) = {
      val szv = col(s"sy_$nm").cast("double") -
        theta * col(s"sx_$nm").cast("double")
      val szzv = col(s"syy_$nm").cast("double") -
        lit(2.0) * theta * col(s"sxy_$nm").cast("double") +
        theta * theta * col(s"sxx_$nm").cast("double")
      (szv / nv, (szzv - szv * szv / nv) / (nv - lit(1.0)))
    }
    val (mza, vza) = zStats("a", na)
    val (mzb, vzb) = zStats("b", nb)
    val mya = col("sy_a").cast("double") / na
    val myb = col("sy_b").cast("double") / nb
    val vya = (col("syy_a").cast("double") -
      col("sy_a").cast("double") * col("sy_a").cast("double") / na) /
      (na - lit(1.0))
    val vyb = (col("syy_b").cast("double") -
      col("sy_b").cast("double") * col("sy_b").cast("double") / nb) /
      (nb - lit(1.0))
    val zPlain = (mya - myb) / sqrt(vya / na + vyb / nb)
    val zCuped = (mza - mzb) / sqrt(vza / na + vzb / nb)
    val varRed = lit(1.0) - (varY - theta * covXY) / varY
    m.select(col("n_a"), col("n_b"),
        round(mya / 100.0, 6).as("mean_post_a"),
        round(myb / 100.0, 6).as("mean_post_b"),
        round(theta, 6).as("theta"),
        round(varRed, 6).as("var_reduction"),
        round(zPlain, 6).as("z_plain"),
        round(zCuped, 6).as("z_cuped"),
        (abs(zCuped) > 1.96).as("significant_cuped"))
      .orderBy("n_a")
  }

  val cupedSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, value,
      |         CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day
      |  FROM events
      |), split AS (
      |  SELECT MIN(day) + CAST((MAX(day) - MIN(day)) // 2 AS INT)
      |           AS split_day
      |  FROM e
      |), users AS (
      |  SELECT user_id,
      |         SUM(CASE WHEN event_type = 'purchase' AND day < split_day
      |             THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS x,
      |         SUM(CASE WHEN event_type = 'purchase' AND day >= split_day
      |             THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS y
      |  FROM e CROSS JOIN split GROUP BY user_id
      |), v AS (
      |  SELECT x, y,
      |         ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT % 2
      |           AS variant
      |  FROM users
      |), m AS (
      |  SELECT
      |    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN variant = 0 THEN x::HUGEINT ELSE 0 END) AS sx_a,
      |    SUM(CASE WHEN variant = 0 THEN y::HUGEINT ELSE 0 END) AS sy_a,
      |    SUM(CASE WHEN variant = 0 THEN x::HUGEINT * x::HUGEINT ELSE 0 END) AS sxx_a,
      |    SUM(CASE WHEN variant = 0 THEN x::HUGEINT * y::HUGEINT ELSE 0 END) AS sxy_a,
      |    SUM(CASE WHEN variant = 0 THEN y::HUGEINT * y::HUGEINT ELSE 0 END) AS syy_a,
      |    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
      |    SUM(CASE WHEN variant = 1 THEN x::HUGEINT ELSE 0 END) AS sx_b,
      |    SUM(CASE WHEN variant = 1 THEN y::HUGEINT ELSE 0 END) AS sy_b,
      |    SUM(CASE WHEN variant = 1 THEN x::HUGEINT * x::HUGEINT ELSE 0 END) AS sxx_b,
      |    SUM(CASE WHEN variant = 1 THEN x::HUGEINT * y::HUGEINT ELSE 0 END) AS sxy_b,
      |    SUM(CASE WHEN variant = 1 THEN y::HUGEINT * y::HUGEINT ELSE 0 END) AS syy_b
      |  FROM v
      |), d AS (
      |  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |         n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
      |         (n_a + n_b)::DOUBLE AS n,
      |         (sx_a + sx_b)::DOUBLE AS sx, (sy_a + sy_b)::DOUBLE AS sy,
      |         (sxx_a + sxx_b)::DOUBLE AS sxx,
      |         (sxy_a + sxy_b)::DOUBLE AS sxy,
      |         (syy_a + syy_b)::DOUBLE AS syy,
      |         sx_a::DOUBLE AS dsx_a, sy_a::DOUBLE AS dsy_a,
      |         sxx_a::DOUBLE AS dsxx_a, sxy_a::DOUBLE AS dsxy_a,
      |         syy_a::DOUBLE AS dsyy_a,
      |         sx_b::DOUBLE AS dsx_b, sy_b::DOUBLE AS dsy_b,
      |         sxx_b::DOUBLE AS dsxx_b, sxy_b::DOUBLE AS dsxy_b,
      |         syy_b::DOUBLE AS dsyy_b
      |  FROM m
      |), c AS (
      |  SELECT *,
      |         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
      |         syy - sy * sy / n AS vary,
      |         sxy - sx * sy / n AS covxy
      |  FROM d
      |), f AS (
      |  SELECT *,
      |         dsy_a / na AS mya, dsy_b / nb AS myb,
      |         (dsyy_a - dsy_a * dsy_a / na) / (na - 1.0) AS vya,
      |         (dsyy_b - dsy_b * dsy_b / nb) / (nb - 1.0) AS vyb,
      |         (dsy_a - theta * dsx_a) / na AS mza,
      |         (dsy_b - theta * dsx_b) / nb AS mzb,
      |         ((dsyy_a - 2.0 * theta * dsxy_a + theta * theta * dsxx_a)
      |          - (dsy_a - theta * dsx_a) * (dsy_a - theta * dsx_a) / na)
      |           / (na - 1.0) AS vza,
      |         ((dsyy_b - 2.0 * theta * dsxy_b + theta * theta * dsxx_b)
      |          - (dsy_b - theta * dsx_b) * (dsy_b - theta * dsx_b) / nb)
      |           / (nb - 1.0) AS vzb
      |  FROM c
      |)
      |SELECT n_a, n_b,
      |       round(mya / 100.0, 6) AS mean_post_a,
      |       round(myb / 100.0, 6) AS mean_post_b,
      |       round(theta, 6) AS theta,
      |       round(1.0 - (vary - theta * covxy) / vary, 6)
      |         AS var_reduction,
      |       round((mya - myb) / sqrt(vya / na + vyb / nb), 6) AS z_plain,
      |       round((mza - mzb) / sqrt(vza / na + vzb / nb), 6) AS z_cuped,
      |       abs((mza - mzb) / sqrt(vza / na + vzb / nb)) > 1.96
      |         AS significant_cuped
      |FROM f ORDER BY n_a""".stripMargin

  /** Two-sided α = 0.05 and 80%-power normal quantiles, fixed as
    * literals so both engines share one IEEE sequence (no engine
    * inverse-CDF is ever called). */
  val ZAlpha = 1.959964
  val ZBeta = 0.841621

  /** q240 — experiment power / minimum-detectable-effect worksheet:
    * the pre-launch sizing sheet every A/B test starts from. Reuses
    * q138's md5 arm split and exact integer-cents moments (n, Σc, Σc²
    * per arm in DECIMAL(38,0)), then prices the design: pooled sd, the
    * standard error of the mean difference at the CURRENT sample
    * sizes, the absolute and relative MDE at α=0.05 / 80% power
    * ((z_α + z_β)·se — Lehr's formula with exact quantiles), and the
    * observed pooled z for reference. A reader compares mde_rel to
    * the effect they hope to ship: if it's larger, the test is
    * underpowered before it starts.
    *
    * Float policy: all doubles derive from the six exact integer
    * moments through one shared expression sequence; `sqrt` only
    * (IEEE-exact), rounds at the edge.
    *
    * Scale shape: identical to q138 — one user-keyed aggregation with
    * map-side combine into a single 6-column moment row; no window,
    * no join, unchanged at 100 TB. */
  def powerMde(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val users = ev.groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
        floor(col("value") * 100).cast("long")).otherwise(0L)).as("c"))
      .select(col("c"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2).as("variant"))
    val cd = col("c").cast("decimal(38,0)")
    val zero = lit(0).cast("decimal(38,0)")
    val s = users.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, cd).otherwise(zero)).as("s_a"),
      sum(when(col("variant") === 0, cd * cd).otherwise(zero)).as("s2_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, cd).otherwise(zero)).as("s_b"),
      sum(when(col("variant") === 1, cd * cd).otherwise(zero)).as("s2_b"))
    val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
    val (sa, sb) = (col("s_a").cast("double"), col("s_b").cast("double"))
    val (sa2, sb2) = (col("s2_a").cast("double"), col("s2_b").cast("double"))
    val (ma, mb) = (sa / na, sb / nb)
    val va = (sa2 - sa * sa / na) / (na - lit(1.0))
    val vb = (sb2 - sb * sb / nb) / (nb - lit(1.0))
    val vp = ((na - lit(1.0)) * va + (nb - lit(1.0)) * vb) /
      (na + nb - lit(2.0))
    val se = sqrt(vp * (lit(1.0) / na + lit(1.0) / nb))
    val mde = lit(ZAlpha + ZBeta) * se
    s.select(col("n_a"), col("n_b"),
        round(sqrt(vp) / 100.0, 6).as("pooled_sd"),
        round(se / 100.0, 6).as("se_diff"),
        round(mde / 100.0, 6).as("mde_abs"),
        round(mde / ma, 6).as("mde_rel"),
        round((ma - mb) / se, 6).as("z_observed"))
      .orderBy("n_a")
  }

  val powerMdeSql: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |         SUM(CASE WHEN event_type = 'purchase'
       |                  THEN floor(value * 100)::BIGINT ELSE 0 END) AS c,
       |         ('0x'||substr(md5(user_id::VARCHAR),1,8))::BIGINT % 2
       |           AS variant
       |  FROM events GROUP BY user_id
       |), s AS (
       |  SELECT SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
       |         SUM(CASE WHEN variant = 0 THEN c ELSE 0 END) AS s_a,
       |         SUM(CASE WHEN variant = 0 THEN c * c ELSE 0 END) AS s2_a,
       |         SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
       |         SUM(CASE WHEN variant = 1 THEN c ELSE 0 END) AS s_b,
       |         SUM(CASE WHEN variant = 1 THEN c * c ELSE 0 END) AS s2_b
       |  FROM u
       |), d AS (
       |  SELECT n_a, n_b,
       |         n_a::DOUBLE AS na, s_a::DOUBLE AS sa, s2_a::DOUBLE AS sa2,
       |         n_b::DOUBLE AS nb, s_b::DOUBLE AS sb, s2_b::DOUBLE AS sb2
       |  FROM s
       |), w AS (
       |  SELECT n_a, n_b, na, nb, sa / na AS ma, sb / nb AS mb,
       |         (sa2 - sa * sa / na) / (na - 1.0) AS va,
       |         (sb2 - sb * sb / nb) / (nb - 1.0) AS vb
       |  FROM d
       |), p AS (
       |  SELECT n_a, n_b, na, nb, ma, mb,
       |         ((na - 1.0) * va + (nb - 1.0) * vb) / (na + nb - 2.0) AS vp
       |  FROM w
       |), q AS (
       |  SELECT n_a, n_b, ma, mb, vp,
       |         sqrt(vp * (1.0 / na + 1.0 / nb)) AS se
       |  FROM p
       |)
       |SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
       |       round(sqrt(vp) / 100.0, 6) AS pooled_sd,
       |       round(se / 100.0, 6) AS se_diff,
       |       round(${ZAlpha + ZBeta} * se / 100.0, 6) AS mde_abs,
       |       round(${ZAlpha + ZBeta} * se / ma, 6) AS mde_rel,
       |       round((ma - mb) / se, 6) AS z_observed
       |FROM q ORDER BY n_a""".stripMargin

  /** q241 — daily conversion with Wilson 95% intervals: per event-time
    * day, the share of active users who purchased, with the Wilson
    * score interval (the binomial interval that behaves at small n and
    * extreme p̂, unlike the Wald ±z√(p̂q̂/n) taught first and wrong at
    * the edges) — the daily health strip an experimentation dashboard
    * draws. Both counts are exact distinct-user integers; the interval
    * is one shared sqrt-only IEEE sequence, rounded at the edge.
    *
    * Scale shape: one scan → (day, user) dedup → day-keyed aggregate
    * (two conditional distinct counts ride the same shuffle); |days|
    * output rows. At 100 TB the only growth axis is elapsed calendar
    * time. */
  def wilsonDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val perDay = ev.select(to_date(col("ts")).as("day"), col("user_id"),
        (col("event_type") === "purchase").as("isp"))
      .groupBy("day", "user_id")
      .agg(max(col("isp")).as("purchased"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("purchased"), 1L).otherwise(0L)).as("n_purchasers"))
    val (n, k) = (col("n_active").cast("double"),
      col("n_purchasers").cast("double"))
    val z2 = lit(ZAlpha * ZAlpha)
    val p = k / n
    val denom = lit(1.0) + z2 / n
    val center = p + z2 / (lit(2.0) * n)
    val half = lit(ZAlpha) *
      sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
    perDay.select(col("day"), col("n_active"), col("n_purchasers"),
        round(p, 6).as("conv_rate"),
        round((center - half) / denom, 6).as("wilson_lo"),
        round((center + half) / denom, 6).as("wilson_hi"))
      .orderBy("day")
  }

  val wilsonDailySql: String =
    s"""WITH du AS (
       |  SELECT CAST(ts AS DATE) AS day, user_id,
       |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |           AS purchased
       |  FROM events GROUP BY 1, 2
       |), d AS (
       |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
       |         CAST(SUM(purchased) AS BIGINT) AS n_purchasers
       |  FROM du GROUP BY 1
       |), f AS (
       |  SELECT day, n_active, n_purchasers,
       |         n_active::DOUBLE AS n, n_purchasers::DOUBLE AS k
       |  FROM d
       |), g AS (
       |  SELECT day, n_active, n_purchasers, n, k / n AS p,
       |         1.0 + ${ZAlpha * ZAlpha} / n AS denom,
       |         k / n + ${ZAlpha * ZAlpha} / (2.0 * n) AS center,
       |         $ZAlpha * sqrt((k / n) * (1.0 - k / n) / n
       |           + ${ZAlpha * ZAlpha} / (4.0 * n * n)) AS half
       |  FROM f
       |)
       |SELECT day, n_active, n_purchasers,
       |       round(p, 6) AS conv_rate,
       |       round((center - half) / denom, 6) AS wilson_lo,
       |       round((center + half) / denom, 6) AS wilson_hi
       |FROM g ORDER BY day""".stripMargin
}
