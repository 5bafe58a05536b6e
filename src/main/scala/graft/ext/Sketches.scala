package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Portable probabilistic sketches — the 100 TB answer to "how many
  * distinct X" when an exact distinct would shuffle every key.
  *
  * The HyperLogLog here is implemented from its published definition
  * (Flajolet et al. 2007) directly in relational algebra, on both
  * engines, from the same md5-derived bits:
  *
  *   bucket = first 8 hash bits, rho = leading-zero count of the next
  *   32 bits + 1, register = MAX(rho) per bucket, estimate =
  *   alpha·m² / Σ 2^(-register), with the small-range linear-counting
  *   correction when the estimate is under 2.5·m.
  *
  * Because every step is a deterministic function of md5, the DuckDB
  * oracle reproduces the estimate EXACTLY (the Σ 2^(-M) sum spans 33
  * bits < the 53-bit mantissa, so even the double addition is
  * order-independent) — a sketch with a hash-matching oracle, unlike
  * engine-native `approx_count_distinct` whose sketch is opaque.
  *
  * Scale shape: one scan, partial MAX per (group, bucket) map-side, one
  * shuffle of at most |groups|·m tiny register rows. Registers merge by
  * MAX, so shards/days can be sketched independently and unioned — the
  * property that makes HLL the standard distinct-counter at 100 TB.
  */
object Sketches {

  /** m = 256 registers (b = 8 bucket bits): ±6.5% standard error. */
  val HllBuckets = 256

  /** alpha_256 from the HLL paper: 0.7213 / (1 + 1.079/m). */
  val HllAlpha: Double = 0.7213 / (1.0 + 1.079 / HllBuckets)

  /** rho over the 32-bit value v: leading zeros + 1; v = 0 → 33.
    * Exact integer threshold chain — no float log2 edge cases. */
  private def rhoCol(v: Column): Column =
    (30 to 0 by -1).foldLeft(when(v >= (1L << 31), lit(1))) {
      (acc, k) => acc.when(v >= (1L << k), lit(32 - k))
    }.otherwise(lit(33))

  private val rhoSql: String = {
    val cases = (31 to 0 by -1)
      .map(k => s"WHEN v >= ${1L << k} THEN ${32 - k}").mkString(" ")
    s"CASE $cases ELSE 33 END"
  }

  /** The mergeable core: (group, bucket) → MAX(rho) register rows.
    * Works identically on a batch frame and a streaming one (it is a
    * plain groupBy-MAX), which is how StreamJobs runs a live distinct
    * count: registers update monotonically as events arrive. */
  def hllRegisters(df: DataFrame, group: String, key: String): DataFrame = {
    val h = md5(col(key).cast("string"))
    df.select(col(group), conv(substring(h, 1, 2), 16, 10)
        .cast("int").as("bucket"),
      conv(substring(h, 3, 8), 16, 10).cast("long").as("v"))
      .groupBy(group, "bucket")
      .agg(max(rhoCol(col("v"))).as("reg"))
  }

  /** Register table → per-group estimate (raw harmonic mean + the
    * small-range linear-counting correction). */
  def hllEstimate(regs: DataFrame, group: String): DataFrame = {
    val m = HllBuckets
    val raw = lit(HllAlpha * m * m) /
      (col("s") + (lit(m) - col("b")).cast("double"))
    regs.groupBy(group)
      .agg(sum(pow(lit(2.0), -col("reg"))).as("s"), count(lit(1)).as("b"))
      .select(col(group),
        when(raw <= lit(2.5 * m) && col("b") < m,
          lit(m.toDouble) * log(lit(m.toDouble) /
            (lit(m) - col("b")).cast("double")))
          .otherwise(raw).as("est"))
  }

  /** q87 — distinct users per event_type, exact vs the portable HLL,
    * with the relative error the 6.5%-rse sketch actually achieved. */
  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    // the events family's one loader; its ts cast is pruned here
    val ev = Events.loadEvents(spark, sfDir)
      .select(col("event_type"), col("user_id"))
    val est = hllEstimate(
      hllRegisters(ev, "event_type", "user_id"), "event_type")
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(est, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        round(col("est"), 4).as("n_hll"),
        round(abs(col("est") - col("n_exact")) / col("n_exact"), 6)
          .as("rel_err"))
      .orderBy("event_type")
  }

  /** DuckDB twin, generated from the same constants (m, alpha, the rho
    * threshold chain) so sketch geometry can never drift. */
  val hllDistinctSql: String = {
    val m = HllBuckets
    s"""WITH hashed AS (
       |  SELECT event_type,
       |         ('0x'||substr(md5(user_id::VARCHAR),1,2))::INT AS bucket,
       |         ('0x'||substr(md5(user_id::VARCHAR),3,8))::BIGINT AS v
       |  FROM events
       |), regs AS (
       |  SELECT event_type, bucket, MAX($rhoSql) AS reg
       |  FROM hashed GROUP BY 1, 2
       |), agg AS (
       |  SELECT event_type, SUM(power(2.0, -reg)) AS s, COUNT(*) AS b
       |  FROM regs GROUP BY 1
       |), est AS (
       |  SELECT event_type,
       |         CASE WHEN ${HllAlpha * m * m}::DOUBLE / (s + ($m - b)) <= ${2.5 * m}
       |                   AND b < $m
       |              THEN $m * ln($m::DOUBLE / ($m - b))
       |              ELSE ${HllAlpha * m * m}::DOUBLE / (s + ($m - b)) END AS est
       |  FROM agg
       |), ex AS (
       |  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM events GROUP BY 1
       |)
       |SELECT x.event_type, x.n_exact, round(e.est, 4) AS n_hll,
       |       round(abs(e.est - x.n_exact) / x.n_exact, 6) AS rel_err
       |FROM ex x JOIN est e ON x.event_type = e.event_type
       |ORDER BY x.event_type""".stripMargin
  }

  /** The estimate formula over (Σ 2^-reg, #buckets-hit) columns —
    * shared by the single-group, pairwise-merged, and streaming paths. */
  private def hllEstExpr(s: Column, b: Column): Column = {
    val m = HllBuckets
    val raw = lit(HllAlpha * m * m) / (s + (lit(m) - b).cast("double"))
    when(raw <= lit(2.5 * m) && b < m,
      lit(m.toDouble) * log(lit(m.toDouble) / (lit(m) - b).cast("double")))
      .otherwise(raw)
  }

  /** q133 — HLL set algebra across event-type audiences: for every
    * type pair, the union estimate comes from MAX-merging the two
    * groups' registers (the HLL mergeability property, used directly),
    * the intersection by inclusion–exclusion, and the estimated
    * audience-overlap Jaccard — next to its exact twin so the row
    * shows the sketch error it actually achieved.
    *
    * Scale shape: the sketch side never touches users twice — ONE scan
    * builds per-group registers (|groups|·m rows), and all pairwise
    * unions are register-level joins on that tiny table (two broadcast
    * equi-joins + a MAX, never an OR-predicate join that would plan as
    * BNLJ). At 100 TB you'd persist the register table and answer any
    * ad-hoc overlap question from it alone; the exact twin here is the
    * verification column, not the production path. Inclusion–exclusion
    * noise can push a near-empty intersection below zero — reported
    * as-is (the honest estimator, ±6.5% rse per operand). Every
    * estimate is a deterministic function of md5 (the q87 argument),
    * so the oracle matches exactly. */
  def hllOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Events.loadEvents(spark, sfDir)
      .select(col("event_type"), col("user_id"))
    val regs = hllRegisters(ev, "event_type", "user_id")
    val types = ev.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("type_a")).as("x")
      .join(types.select(col("event_type").as("type_b")).as("y"),
        col("type_a") < col("type_b"))
    // a pair's registers = union of its two groups' register rows,
    // MAX-merged per bucket (register absent in both ⇒ bucket unhit)
    val contrib =
      pairs.join(broadcast(regs), col("event_type") === col("type_a"))
        .select(col("type_a"), col("type_b"), col("bucket"), col("reg"))
        .unionAll(
          pairs.join(broadcast(regs), col("event_type") === col("type_b"))
            .select(col("type_a"), col("type_b"), col("bucket"), col("reg")))
    val unionEst = contrib
      .groupBy("type_a", "type_b", "bucket").agg(max("reg").as("reg"))
      .groupBy("type_a", "type_b")
      .agg(sum(pow(lit(2.0), -col("reg"))).as("s"), count(lit(1)).as("b"))
      .select(col("type_a"), col("type_b"),
        hllEstExpr(col("s"), col("b")).as("est_union"))
    val perType = hllEstimate(regs, "event_type")
    // exact twin: distinct (user, type) pairs self-joined on user
    val du = ev.distinct()
    val exact = du.as("p").join(du.as("q"),
        col("p.user_id") === col("q.user_id") &&
          col("p.event_type") < col("q.event_type"))
      .groupBy(col("p.event_type").as("type_a"),
        col("q.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_int"))
    val nPer = du.groupBy("event_type").agg(count(lit(1)).as("n"))
    val estInt = col("est_a") + col("est_b") - col("est_union")
    val jaccExact = col("n_int").cast("double") /
      (col("na") + col("nb") - col("n_int")).cast("double")
    unionEst
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("est").as("est_a"))), Seq("type_a"))
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("est").as("est_b"))), Seq("type_b"))
      .join(broadcast(exact), Seq("type_a", "type_b"), "left")
      .join(broadcast(nPer.select(col("event_type").as("type_a"),
        col("n").as("na"))), Seq("type_a"))
      .join(broadcast(nPer.select(col("event_type").as("type_b"),
        col("n").as("nb"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"),
        round(col("est_a"), 4).as("est_a"),
        round(col("est_b"), 4).as("est_b"),
        round(col("est_union"), 4).as("est_union"),
        round(estInt, 4).as("est_intersect"),
        round(estInt / col("est_union"), 6).as("jacc_est"),
        round(coalesce(jaccExact, lit(0.0)), 6).as("jacc_exact"))
      .orderBy("type_a", "type_b")
  }

  val hllOverlapSql: String = {
    val m = HllBuckets
    val est = (s: String, b: String) =>
      s"""CASE WHEN ${HllAlpha * m * m}::DOUBLE / ($s + ($m - $b)) <= ${2.5 * m}
         |          AND $b < $m
         |     THEN $m * ln($m::DOUBLE / ($m - $b))
         |     ELSE ${HllAlpha * m * m}::DOUBLE / ($s + ($m - $b)) END""".stripMargin
    s"""WITH hashed AS (
       |  SELECT event_type,
       |         ('0x'||substr(md5(user_id::VARCHAR),1,2))::INT AS bucket,
       |         ('0x'||substr(md5(user_id::VARCHAR),3,8))::BIGINT AS v
       |  FROM events
       |), regs AS (
       |  SELECT event_type, bucket, MAX($rhoSql) AS reg
       |  FROM hashed GROUP BY 1, 2
       |), types AS (SELECT DISTINCT event_type AS t FROM events),
       |pairs AS (
       |  SELECT x.t AS type_a, y.t AS type_b FROM types x JOIN types y ON x.t < y.t
       |), contrib AS (
       |  SELECT p.type_a, p.type_b, r.bucket, r.reg
       |  FROM pairs p JOIN regs r ON r.event_type = p.type_a
       |  UNION ALL
       |  SELECT p.type_a, p.type_b, r.bucket, r.reg
       |  FROM pairs p JOIN regs r ON r.event_type = p.type_b
       |), uagg AS (
       |  SELECT type_a, type_b, SUM(power(2.0, -reg)) AS s, COUNT(*) AS b
       |  FROM (SELECT type_a, type_b, bucket, MAX(reg) AS reg
       |        FROM contrib GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2
       |), uest AS (
       |  SELECT type_a, type_b, ${est("s", "b")} AS est_union FROM uagg
       |), gagg AS (
       |  SELECT event_type, SUM(power(2.0, -reg)) AS s, COUNT(*) AS b
       |  FROM regs GROUP BY 1
       |), gest AS (
       |  SELECT event_type, ${est("s", "b")} AS est FROM gagg
       |), du AS (SELECT DISTINCT user_id, event_type FROM events),
       |ex AS (
       |  SELECT p.event_type AS type_a, q.event_type AS type_b,
       |         COUNT(*) AS n_int
       |  FROM du p JOIN du q ON p.user_id = q.user_id
       |                     AND p.event_type < q.event_type
       |  GROUP BY 1, 2
       |), np AS (
       |  SELECT event_type, COUNT(*) AS n FROM du GROUP BY 1
       |)
       |SELECT u.type_a, u.type_b,
       |       round(a.est, 4) AS est_a, round(b.est, 4) AS est_b,
       |       round(u.est_union, 4) AS est_union,
       |       round(a.est + b.est - u.est_union, 4) AS est_intersect,
       |       round((a.est + b.est - u.est_union) / u.est_union, 6) AS jacc_est,
       |       round(COALESCE(e.n_int::DOUBLE /
       |         (na.n + nb.n - e.n_int)::DOUBLE, 0.0), 6) AS jacc_exact
       |FROM uest u
       |JOIN gest a ON a.event_type = u.type_a
       |JOIN gest b ON b.event_type = u.type_b
       |LEFT JOIN ex e ON e.type_a = u.type_a AND e.type_b = u.type_b
       |JOIN np na ON na.event_type = u.type_a
       |JOIN np nb ON nb.event_type = u.type_b
       |ORDER BY u.type_a, u.type_b""".stripMargin
  }

  /** Count-min geometry: d=4 hash rows × w=256 counters. Error bound:
    * overestimate ≤ e/w · total ≈ 1% of stream mass w.h.p. */
  val CmsRows = 4
  val CmsWidth = 256
  val CmsTopK = 10

  private def cmsBucket(r: Int, tok: Column): Column =
    conv(substring(md5(concat(lit(s"$r:"), tok)), 1, 8), 16, 10)
      .cast("long") % CmsWidth

  /** The mergeable CMS core: key column → (r, b) → SUM counter rows.
    * Like [[hllRegisters]], a plain groupBy aggregation that runs
    * unchanged on a streaming frame (Update/Complete mode) with state
    * fixed at d·w rows — frequency estimates on an unbounded stream. */
  def cmsCounters(df: DataFrame, key: String): DataFrame =
    (0 until CmsRows)
      .map(r => df.select(lit(r).as("r"), cmsBucket(r, col(key)).as("b")))
      .reduce(_ union _)
      .groupBy("r", "b").agg(count(lit(1)).as("c"))

  /** q99 — count-min sketch over the token stream: estimate the
    * frequencies of the exact top-10 tokens from a d×w counter table
    * and report each overestimate (CMS never underestimates — the
    * integer gap IS the collision mass, so both engines agree exactly;
    * no floats anywhere).
    *
    * Same portable-sketch discipline as q87: buckets derive from md5,
    * so the DuckDB oracle rebuilds the identical table. Counters merge
    * by SUM (shards/days sketch independently), and the sketch build
    * rides the (tok, cnt) aggregate the exact twin needs anyway — at
    * 100 TB the sketch's d·w counters replace the vocabulary-sized
    * frequency table wherever only heavy hitters matter. */
  def cmsHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val tf = graft.Scratch.register(docs
      .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .cache())
    val cms = (0 until CmsRows)
      .map(r => tf.select(lit(r).as("r"),
        cmsBucket(r, col("tok")).as("b"), col("cnt")))
      .reduce(_ union _)
      .groupBy("r", "b").agg(sum("cnt").as("c"))
    val top = tf.orderBy(col("cnt").desc, col("tok")).limit(CmsTopK)
    val probes = top.select(col("tok"), col("cnt"),
      explode(array((0 until CmsRows).map(r =>
        struct(lit(r).as("r"), cmsBucket(r, col("tok")).as("b"))): _*)).as("p"))
      .select(col("tok"), col("cnt"), col("p.r").as("r"), col("p.b").as("b"))
    probes.join(cms, Seq("r", "b"))
      .groupBy("tok")
      .agg(max("cnt").as("exact_cnt"), min("c").as("cms_est"))
      .select(col("tok"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overestimate"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  val cmsHeavyHittersSql: String = {
    val bucket = (r: Int, t: String) =>
      s"('0x'||substr(md5('$r:'||$t),1,8))::BIGINT % $CmsWidth"
    val rows = (0 until CmsRows)
      .map(r => s"SELECT ${bucket(r, "tok")} AS b, $r AS r, cnt FROM tf")
      .mkString(" UNION ALL ")
    val probes = (0 until CmsRows)
      .map(r => s"SELECT tok, cnt, $r AS r, ${bucket(r, "tok")} AS b FROM top")
      .mkString(" UNION ALL ")
    s"""WITH tf AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
       |        FROM documents)
       |  WHERE length(tok) > 0 GROUP BY tok
       |), cms AS (
       |  SELECT r, b, SUM(cnt) AS c FROM ($rows) GROUP BY 1, 2
       |), top AS (
       |  SELECT tok, cnt FROM tf ORDER BY cnt DESC, tok LIMIT $CmsTopK
       |), probes AS ($probes)
       |SELECT p.tok, MAX(p.cnt) AS exact_cnt,
       |       CAST(MIN(c.c) AS BIGINT) AS cms_est,
       |       CAST(MIN(c.c) - MAX(p.cnt) AS BIGINT) AS overestimate
       |FROM probes p JOIN cms c ON p.r = c.r AND p.b = c.b
       |GROUP BY p.tok
       |ORDER BY exact_cnt DESC, p.tok""".stripMargin
  }

  /** The per-(day, bucket) user-register table both calendar-HLL
    * queries (q149 WAU, q172 new-users curve, q178 registers-only WAU)
    * derive from — computed ONCE per (session, sfDir) off one events
    * scan and pinned with an eager localCheckpoint (the Dedup pair-memo
    * pattern). days·256 rows: the state a 100 TB pipeline would store
    * instead of raw events. */
  graft.Memo.declare("registers")(dailyUserRegistersFresh)

  def dailyUserRegisters(spark: SparkSession, sfDir: String): DataFrame =
    graft.Memo.memoized(spark, sfDir, "registers")(
      (dailyUserRegistersFresh(spark, sfDir), Nil))

  /** Uncached single-pass register build (plan-shape tests pin THIS). */
  def dailyUserRegistersFresh(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Events.loadEvents(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    hllRegisters(ev, "day", "user_id")
  }

  /** q149 — weekly-active-users from DAILY HLL registers: sketch each
    * day once, then answer every trailing-7-day distinct-user question
    * by MAX-merging that week's register rows — sketch algebra over
    * time, the reason a 100 TB pipeline stores per-day registers
    * instead of re-scanning a week of raw events per WAU point (the
    * q133 merge argument, rolled along the calendar). The exact twin
    * (distinct users over the true 7-day window) rides along per day
    * with the achieved relative error. `n_days` marks how many calendar
    * days actually feed each window end, so the leading partial windows
    * (wend < d0+6) are visible to consumers instead of reading as
    * systematically-low full weeks.
    *
    * Scale shape: ONE scan → per-(day, bucket) registers (days·256
    * rows, session-memoized via [[dailyUserRegisters]]); each day's
    * registers fan out to the ≤7 window ends they serve via a
    * 7-element explode (rows stay register-sized, never event-sized);
    * MAX-merge + estimate per window end. The exact twin's (day × user)
    * frame is the verification column, not the production path —
    * q178 is the production-shaped registers-only form. */
  def wauHll(spark: SparkSession, sfDir: String): DataFrame = {
    val regs = dailyUserRegisters(spark, sfDir)
    // calendar anchors off the register table (days·256 rows), not a
    // second event scan
    val dayRange = regs.agg(min("day"), max("day")).first()
    val (d0, d1) = (dayRange.getDate(0), dayRange.getDate(1))
    val est = hllEstimate(wauMergedRegisters(regs, d0, d1), "wend")
    // exact twin: distinct users over the true trailing window
    val ev = Events.loadEvents(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val du = ev.distinct()
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("i"),
        date_add(col("day"), col("i")).as("wend"))
      .filter(col("wend") <= lit(d1) && col("wend") >= lit(d0))
      .select(col("wend"), col("user_id")).distinct()
      .groupBy("wend").agg(count(lit(1)).as("n_exact"))
    du.join(est, Seq("wend"))
      .select(col("wend").as("week_ending"),
        least(datediff(col("wend"), lit(d0)) + 1, lit(7)).cast("long")
          .as("n_days"),
        col("n_exact"),
        round(col("est"), 4).as("n_hll"),
        round(abs(col("est") - col("n_exact")) / col("n_exact"), 6)
          .as("rel_err"))
      .orderBy("week_ending")
  }

  /** Trailing-7-day MAX-merge of a daily register table: each register
    * row serves the ≤7 window ends it falls into. */
  private def wauMergedRegisters(regs: DataFrame,
      d0: java.sql.Date, d1: java.sql.Date): DataFrame =
    regs.select(col("bucket"), col("reg"),
        explode(sequence(lit(0), lit(6))).as("i"),
        date_add(col("day"), col("i")).as("wend"))
      .drop("i")
      .filter(col("wend") <= lit(d1) && col("wend") >= lit(d0))
      .groupBy("wend", "bucket").agg(max("reg").as("reg"))

  /** q178 — the PRODUCTION-shaped WAU: registers only, no event-scale
    * exact twin. This is exactly what runs at 100 TB — the sketch state
    * is days·256 register rows, every aggregate in the plan is
    * register-sized, and no (day × user) distinct exists anywhere
    * (SketchesSpec pins that, plus estimate-parity with q149's n_hll
    * column). q149 keeps the eval form that quantifies the error. */
  def wauRegisters(spark: SparkSession, sfDir: String): DataFrame = {
    val regs = dailyUserRegisters(spark, sfDir)
    val dayRange = regs.agg(min("day"), max("day")).first()
    val (d0, d1) = (dayRange.getDate(0), dayRange.getDate(1))
    hllEstimate(wauMergedRegisters(regs, d0, d1), "wend")
      .select(col("wend").as("week_ending"),
        least(datediff(col("wend"), lit(d0)) + 1, lit(7)).cast("long")
          .as("n_days"),
        round(col("est"), 4).as("wau_hll"))
      .orderBy("week_ending")
  }

  val wauRegistersSql: String = {
    val m = HllBuckets
    s"""WITH ev AS (
       |  SELECT ts::DATE AS day, user_id FROM events
       |), hashed AS (
       |  SELECT day,
       |         ('0x'||substr(md5(user_id::VARCHAR),1,2))::INT AS bucket,
       |         ('0x'||substr(md5(user_id::VARCHAR),3,8))::BIGINT AS v
       |  FROM ev
       |), regs AS (
       |  SELECT day, bucket, MAX($rhoSql) AS reg
       |  FROM hashed GROUP BY 1, 2
       |), rng AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
       |ends AS (
       |  SELECT r.day + i::INT AS wend, r.bucket, r.reg
       |  FROM regs r CROSS JOIN UNNEST(generate_series(0, 6)) AS t(i), rng
       |  WHERE r.day + i::INT BETWEEN rng.d0 AND rng.d1
       |), merged AS (
       |  SELECT wend, bucket, MAX(reg) AS reg FROM ends GROUP BY 1, 2
       |), agg AS (
       |  SELECT wend, SUM(power(2.0, -reg)) AS s, COUNT(*) AS b
       |  FROM merged GROUP BY 1
       |)
       |SELECT agg.wend AS week_ending,
       |       CAST(least(datediff('day', rng.d0, agg.wend) + 1, 7) AS BIGINT)
       |         AS n_days,
       |       round(CASE WHEN ${HllAlpha * m * m}::DOUBLE / (s + ($m - b))
       |                   <= ${2.5 * m} AND b < $m
       |              THEN $m * ln($m::DOUBLE / ($m - b))
       |              ELSE ${HllAlpha * m * m}::DOUBLE / (s + ($m - b)) END, 4)
       |         AS wau_hll
       |FROM agg, rng
       |ORDER BY week_ending""".stripMargin
  }

  val wauHllSql: String = {
    val m = HllBuckets
    s"""WITH ev AS (
       |  SELECT ts::DATE AS day, user_id FROM events
       |), hashed AS (
       |  SELECT day,
       |         ('0x'||substr(md5(user_id::VARCHAR),1,2))::INT AS bucket,
       |         ('0x'||substr(md5(user_id::VARCHAR),3,8))::BIGINT AS v
       |  FROM ev
       |), regs AS (
       |  SELECT day, bucket, MAX($rhoSql) AS reg
       |  FROM hashed GROUP BY 1, 2
       |), rng AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
       |ends AS (
       |  SELECT r.day + i::INT AS wend, r.bucket, r.reg
       |  FROM regs r CROSS JOIN UNNEST(generate_series(0, 6)) AS t(i), rng
       |  WHERE r.day + i::INT BETWEEN rng.d0 AND rng.d1
       |), merged AS (
       |  SELECT wend, bucket, MAX(reg) AS reg FROM ends GROUP BY 1, 2
       |), agg AS (
       |  SELECT wend, SUM(power(2.0, -reg)) AS s, COUNT(*) AS b
       |  FROM merged GROUP BY 1
       |), est AS (
       |  SELECT wend,
       |         CASE WHEN ${HllAlpha * m * m}::DOUBLE / (s + ($m - b))
       |                   <= ${2.5 * m} AND b < $m
       |              THEN $m * ln($m::DOUBLE / ($m - b))
       |              ELSE ${HllAlpha * m * m}::DOUBLE / (s + ($m - b)) END
       |           AS est
       |  FROM agg
       |), ex AS (
       |  SELECT wend, COUNT(*) AS n_exact FROM (
       |    SELECT DISTINCT d.day + i::INT AS wend, d.user_id
       |    FROM (SELECT DISTINCT day, user_id FROM ev) d
       |    CROSS JOIN UNNEST(generate_series(0, 6)) AS t(i), rng
       |    WHERE d.day + i::INT BETWEEN rng.d0 AND rng.d1
       |  ) GROUP BY 1
       |)
       |SELECT ex.wend AS week_ending,
       |       CAST(least(datediff('day', rng.d0, ex.wend) + 1, 7) AS BIGINT)
       |         AS n_days,
       |       ex.n_exact,
       |       round(est.est, 4) AS n_hll,
       |       round(abs(est.est - ex.n_exact) / ex.n_exact, 6) AS rel_err
       |FROM ex JOIN est USING (wend), rng
       |ORDER BY week_ending""".stripMargin
  }

  /** q150 — HyperANF (Boldi & Vigna 2011) over the near-dup graph:
    * estimate every node's 2-hop neighborhood size by iterating
    * register MAX-merges along edges — each node starts with the HLL
    * register of itself, and round k replaces its registers with the
    * MAX of its neighbors' round-(k−1) registers and its own. Two
    * rounds ≡ |B(node, 2)|. The exact 2-hop closure rides along with
    * the achieved error.
    *
    * This is the sketch that makes neighborhood-function/diameter
    * estimation tractable on big graphs: state is nodes·m register
    * rows and each round is ONE edge-keyed join + MAX — no frontier
    * materialization, no per-node BFS. The exact twin's 2-hop
    * self-join is the verification column (fine on the bounded dup
    * graph; the register path is what survives a billion-edge one).
    * Rides the session-memoized q29 edge list (shared with the other
    * pair-list consumers). */
  def hyperAnf(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.verifiedNgramPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs.unionAll(pairs.select(col("doc_b").as("doc_a"),
      col("doc_a").as("doc_b"))).distinct()
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val nodes = edges.select(col("src").as("node")).distinct()
    val regs0 = hllRegisters(
      nodes.withColumn("nbr", col("node")), "node", "nbr")
    val regs2 = (1 to 2).foldLeft(regs0) { (regs, _) =>
      regs.unionAll(
          edges.join(regs.withColumnRenamed("node", "dst"), Seq("dst"))
            .select(col("src").as("node"), col("bucket"), col("reg")))
        .groupBy("node", "bucket").agg(max("reg").as("reg"))
    }
    val est = hllEstimate(regs2, "node")
    val hop1 = edges
    val hop2 = edges.as("e1")
      .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
    val reach = nodes.select(col("node").as("src"), col("node").as("dst"))
      .unionAll(hop1).unionAll(hop2).distinct()
      .groupBy("src").agg(count(lit(1)).as("n_exact"))
    reach.join(est, col("src") === col("node"))
      .select(col("src").as("doc_id"), col("n_exact"),
        round(col("est"), 4).as("n_hll"),
        round(abs(col("est") - col("n_exact")) / col("n_exact"), 6)
          .as("rel_err"))
      .orderBy("doc_id")
  }

  val hyperAnfSql: String = {
    val m = HllBuckets
    s"""WITH jp AS (${Dedup.ngramJaccardPairsSql}),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM jp
       |  UNION
       |  SELECT doc_b AS src, doc_a AS dst FROM jp
       |), nodes AS (SELECT DISTINCT src AS node FROM edges),
       |hashed AS (
       |  SELECT node,
       |         ('0x'||substr(md5(node::VARCHAR),1,2))::INT AS bucket,
       |         ('0x'||substr(md5(node::VARCHAR),3,8))::BIGINT AS v
       |  FROM nodes
       |), regs0 AS (
       |  SELECT node, bucket, MAX($rhoSql) AS reg FROM hashed GROUP BY 1, 2
       |), regs1 AS (
       |  SELECT node, bucket, MAX(reg) AS reg FROM (
       |    SELECT node, bucket, reg FROM regs0
       |    UNION ALL
       |    SELECT e.src AS node, r.bucket, r.reg
       |    FROM edges e JOIN regs0 r ON r.node = e.dst
       |  ) GROUP BY 1, 2
       |), regs2 AS (
       |  SELECT node, bucket, MAX(reg) AS reg FROM (
       |    SELECT node, bucket, reg FROM regs1
       |    UNION ALL
       |    SELECT e.src AS node, r.bucket, r.reg
       |    FROM edges e JOIN regs1 r ON r.node = e.dst
       |  ) GROUP BY 1, 2
       |), agg AS (
       |  SELECT node, SUM(power(2.0, -reg)) AS s, COUNT(*) AS b
       |  FROM regs2 GROUP BY 1
       |), est AS (
       |  SELECT node,
       |         CASE WHEN ${HllAlpha * m * m}::DOUBLE / (s + ($m - b))
       |                   <= ${2.5 * m} AND b < $m
       |              THEN $m * ln($m::DOUBLE / ($m - b))
       |              ELSE ${HllAlpha * m * m}::DOUBLE / (s + ($m - b)) END
       |           AS est
       |  FROM agg
       |), reach AS (
       |  SELECT src, COUNT(*) AS n_exact FROM (
       |    SELECT node AS src, node AS dst FROM nodes
       |    UNION
       |    SELECT src, dst FROM edges
       |    UNION
       |    SELECT e1.src, e2.dst FROM edges e1
       |    JOIN edges e2 ON e1.dst = e2.src
       |  ) GROUP BY 1
       |)
       |SELECT r.src AS doc_id, r.n_exact, round(e.est, 4) AS n_hll,
       |       round(abs(e.est - r.n_exact) / r.n_exact, 6) AS rel_err
       |FROM reach r JOIN est e ON e.node = r.src
       |ORDER BY doc_id""".stripMargin
  }

  /** q172 — new-users curve from cumulative HLL registers: estimate
    * each day's NEW distinct users as est(≤day) − est(≤day−1), where
    * the cumulative register table is a running MAX per bucket over
    * days — a window PARTITIONED BY BUCKET (256 partitions, rows =
    * days·m), never by data volume. The exact first-seen count rides
    * along. This is the incremental face of q87/q149: a pipeline that
    * stores daily registers answers "how many users have we EVER
    * seen, and how many are new today" with register-sized state —
    * the cardinality curve that decides when a crawl stops paying.
    * (Differences of ±6.5%-rse estimates are noisy for small daily
    * increments — reported as-is, the honest estimator; the exact
    * column quantifies it.) */
  def newUsersCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Events.loadEvents(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    // same session-memoized register table as q149/q178 — one event
    // scan feeds the whole calendar-HLL family
    val regs = dailyUserRegisters(spark, sfDir)
    // cumulative registers: running MAX per bucket across days; a
    // bucket absent before day d simply has no row yet
    val wb = Window.partitionBy("bucket").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val days = regs.select("day").distinct()
    val grid = days.crossJoin(broadcast(
      spark.range(HllBuckets).select(col("id").cast("int").as("bucket"))))
    val cum = grid.join(regs, Seq("day", "bucket"), "left")
      .withColumn("creg", max("reg").over(wb))
      .filter(col("creg").isNotNull)
    val est = hllEstimate(cum.select(col("day"), col("bucket"),
      col("creg").as("reg")), "day")
    val wd = Window.orderBy("day") // |days| rows — calendar-bounded
    val curve = est.withColumn("prev", lag(col("est"), 1).over(wd))
      .select(col("day"),
        round(col("est"), 4).as("cum_users_hll"),
        round(col("est") - coalesce(col("prev"), lit(0.0)), 4)
          .as("new_users_hll"))
    val firstSeen = ev.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users_exact"))
    curve.join(firstSeen, Seq("day"), "left")
      .select(col("day"), coalesce(col("new_users_exact"), lit(0L))
          .as("new_users_exact"),
        col("new_users_hll"), col("cum_users_hll"))
      .orderBy("day")
  }

  val newUsersCurveSql: String = {
    val m = HllBuckets
    s"""WITH ev AS (
       |  SELECT ts::DATE AS day, user_id FROM events
       |), hashed AS (
       |  SELECT day,
       |         ('0x'||substr(md5(user_id::VARCHAR),1,2))::INT AS bucket,
       |         ('0x'||substr(md5(user_id::VARCHAR),3,8))::BIGINT AS v
       |  FROM ev
       |), regs AS (
       |  SELECT day, bucket, MAX($rhoSql) AS reg
       |  FROM hashed GROUP BY 1, 2
       |), grid AS (
       |  SELECT d.day, b.bucket
       |  FROM (SELECT DISTINCT day FROM ev) d
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS bucket) b
       |), cum AS (
       |  SELECT g.day, g.bucket,
       |         MAX(r.reg) OVER (PARTITION BY g.bucket ORDER BY g.day
       |                          ROWS UNBOUNDED PRECEDING) AS creg
       |  FROM grid g LEFT JOIN regs r USING (day, bucket)
       |), agg AS (
       |  SELECT day, SUM(power(2.0, -creg)) AS s, COUNT(*) AS b
       |  FROM cum WHERE creg IS NOT NULL GROUP BY 1
       |), est AS (
       |  SELECT day,
       |         CASE WHEN ${HllAlpha * m * m}::DOUBLE / (s + ($m - b))
       |                   <= ${2.5 * m} AND b < $m
       |              THEN $m * ln($m::DOUBLE / ($m - b))
       |              ELSE ${HllAlpha * m * m}::DOUBLE / (s + ($m - b)) END
       |           AS est
       |  FROM agg
       |), curve AS (
       |  SELECT day, round(est, 4) AS cum_users_hll,
       |         round(est - COALESCE(lag(est) OVER (ORDER BY day), 0.0), 4)
       |           AS new_users_hll
       |  FROM est
       |), fs AS (
       |  SELECT day, COUNT(*) AS new_users_exact FROM (
       |    SELECT user_id, MIN(day) AS day FROM ev GROUP BY 1
       |  ) GROUP BY 1
       |)
       |SELECT c.day, COALESCE(fs.new_users_exact, 0)::BIGINT
       |         AS new_users_exact,
       |       c.new_users_hll, c.cum_users_hll
       |FROM curve c LEFT JOIN fs USING (day)
       |ORDER BY c.day""".stripMargin
  }

  /** Portable Bloom geometry: m bits, k hash functions. */
  val BloomBits = 4096
  val BloomHashes = 3

  private def bloomPos(i: Int, c: Column): Column =
    conv(substring(md5(concat(lit(s"$i:"), c.cast("string"))), 1, 8), 16, 10)
      .cast("long") % BloomBits

  /** q168 — Bloom-filter false-positive audit: build a PORTABLE Bloom
    * filter (m=4096 bits, k=3, md5-derived positions — the q87
    * discipline, so both engines set the identical bits) over the
    * urgent orders' keys, probe it with every non-urgent key, and
    * report the EMPIRICAL false-positive rate next to the
    * load-predicted one (bits_set/m)^k — the audit that validates
    * q94's engine-native bloom pushdown with a filter whose every bit
    * the oracle can reproduce.
    *
    * Scale shape: the bit table is ≤ m rows (distinct positions —
    * SUM/OR-mergeable across shards like every sketch here), probes
    * explode to k position rows and semi-join the broadcast bit
    * table; a probe is a false positive iff all k positions hit.
    * One membership row out. */
  def bloomAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("p"))
    val members = ord.filter(col("p") === "1-URGENT").select(col("k"))
    val probes = ord.filter(col("p") =!= "1-URGENT").select(col("k"))
    val posArr = (c: Column) =>
      array((0 until BloomHashes).map(i => bloomPos(i, c)): _*)
    val bits = members.select(explode(posArr(col("k"))).as("b")).distinct()
    val probeHits = probes
      .select(col("k"), explode(posArr(col("k"))).as("b"))
      .join(broadcast(bits), Seq("b"))
      .groupBy("k").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomHashes)
    val nm = members.count()
    val np = probes.count()
    val bs = bits.count()
    val fp = probeHits.count()
    // explicit x*x*x, not pow: libm pow is only 1-ulp-accurate and the
    // two engines' libms may disagree on that last bit
    val loadFrac = bs.toDouble / BloomBits
    val predicted = (0 until BloomHashes)
      .foldLeft(1.0)((acc, _) => acc * loadFrac)
    import spark.implicits._
    Seq((nm, np, bs, fp,
        BigDecimal(fp.toDouble / np.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(predicted)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_members", "n_probes", "bits_set", "n_false_pos",
        "empirical_fpr", "predicted_fpr")
      .orderBy("n_members")
  }

  val bloomAuditSql: String = {
    val pos = (i: Int, c: String) =>
      s"('0x'||substr(md5('$i:'||$c::VARCHAR),1,8))::BIGINT % $BloomBits"
    val posRows = (0 until BloomHashes)
      .map(i => s"SELECT k, ${pos(i, "k")} AS b FROM probes")
      .mkString(" UNION ALL ")
    val bitRows = (0 until BloomHashes)
      .map(i => s"SELECT ${pos(i, "k")} AS b FROM members")
      .mkString(" UNION ALL ")
    s"""WITH members AS (
       |  SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
       |), probes AS (
       |  SELECT o_orderkey AS k FROM orders WHERE o_orderpriority <> '1-URGENT'
       |), bits AS (
       |  SELECT DISTINCT b FROM ($bitRows)
       |), ph AS (
       |  SELECT p.k, COUNT(*) AS hits
       |  FROM ($posRows) p JOIN bits ON p.b = bits.b
       |  GROUP BY p.k
       |), t AS (
       |  SELECT (SELECT COUNT(*) FROM members) AS n_members,
       |         (SELECT COUNT(*) FROM probes) AS n_probes,
       |         (SELECT COUNT(*) FROM bits) AS bits_set,
       |         (SELECT COUNT(*) FROM ph WHERE hits = $BloomHashes)
       |           AS n_false_pos
       |)
       |SELECT n_members::BIGINT AS n_members, n_probes::BIGINT AS n_probes,
       |       bits_set::BIGINT AS bits_set, n_false_pos::BIGINT AS n_false_pos,
       |       round(n_false_pos::DOUBLE / n_probes::DOUBLE, 6)
       |         AS empirical_fpr,
       |       round(1.0 * (bits_set::DOUBLE / $BloomBits)
       |                 * (bits_set::DOUBLE / $BloomBits)
       |                 * (bits_set::DOUBLE / $BloomBits), 6)
       |         AS predicted_fpr
       |FROM t ORDER BY n_members""".stripMargin
  }

  /** DDSketch geometry: 64 sub-buckets per octave → relative error
    * bounded by 2^(1/64) − 1 ≈ 1.1% on every quantile. */
  val DdSubBuckets = 64
  val DdQuantiles: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** q134 — mergeable log-bucket quantile sketch (the DDSketch/HDR-
    * histogram idea) next to the exact rank-select twin, per event
    * type, with the relative error each estimate actually achieved.
    *
    * The bucket index is PURE INTEGER/STRING arithmetic — cents =
    * floor(value·100), octave e = len(bin(cents))−1 (floor(log2)
    * without ever calling a float log), sub-bucket = ((c − 2^e)·64)
    * div 2^e — so both engines land every value in the identical
    * bucket with zero ulp risk; the only float ops are the final
    * bucket-midpoint formula, the same IEEE sequence on both sides.
    *
    * Scale shape: the sketch is ONE scan → (type, bucket) counts with
    * map-side combine — at most |types|·(64·octaves) tiny rows — and
    * buckets merge by SUM, so shards/days/streams sketch independently
    * and union (same mergeability argument as q87's HLL registers /
    * q99's CMS counters; this completes the sketch triad: distinct,
    * frequency, quantile). Rank selection then runs a window over the
    * bucket table PARTITIONED by type — never over raw rows, which is
    * exactly what q92's exact `percentile` cannot avoid at 100 TB.
    * The exact twin here rank-selects over per-cents GROUPS (bounded
    * by the value domain, not the row count) — the verification
    * column, not the production path. */
  /** The mergeable core: (group, value) → (group, bucket) count rows.
    * Like [[hllRegisters]]/[[cmsCounters]], a plain groupBy aggregation
    * that runs unchanged on a streaming frame — bounded quantile state
    * over an unbounded stream (buckets merge by SUM). */
  def ddBucketCounts(df: DataFrame, group: String, value: String): DataFrame = {
    val k = DdSubBuckets
    df.select(col(group),
        floor(col(value) * 100).cast("long").as("c"))
      // non-positive values get the dedicated underflow bucket -1
      .withColumn("e",
        when(col("c") >= 1, length(conv(col("c").cast("string"), 10, 2)) - 1))
      .withColumn("base", pow(lit(2.0), col("e")).cast("long"))
      .withColumn("bucket",
        when(col("c") >= 1,
          col("e") * k + expr(s"((c - base) * $k) div base"))
          .otherwise(lit(-1L)))
      .groupBy(group, "bucket")
      .agg(count(lit(1)).as("bn"))
  }

  def ddsketchQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val k = DdSubBuckets
    val raw = Events.loadEvents(spark, sfDir)
    val ev = raw.select(col("event_type"),
        floor(col("value") * 100).cast("long").as("c"))
    val sketch = ddBucketCounts(raw, "event_type", "value")
    val totals = sketch.groupBy("event_type").agg(sum("bn").as("n"))
    val wb = Window.partitionBy("event_type").orderBy("bucket")
    val cum = sketch.withColumn("cum", sum("bn").over(wb))
      .join(broadcast(totals), Seq("event_type"))
    // per (type, q): the smallest bucket whose cumulative count covers
    // rank ceil(q·n); estimate = arithmetic midpoint of that bucket
    val qs = DdQuantiles.map(q =>
      struct(lit(q).as("q"), ceil(lit(q) * col("n")).as("r")))
    val hit = cum.select(col("event_type"), col("bucket"), col("cum"),
        col("n"), explode(array(qs: _*)).as("p"))
      .filter(col("cum") >= col("p.r"))
      .groupBy(col("event_type"), col("p.q").as("q"), col("n"))
      .agg(min("bucket").as("bucket"))
    val base = pow(lit(2.0), floor(col("bucket") / k))
    val est = when(col("bucket") >= 0,
      base * (lit(1.0) + (pmod(col("bucket"), lit(k)).cast("double") +
        lit(0.5)) / k) / lit(100.0)).otherwise(lit(0.0))
    // exact twin: rank-select over per-cents groups (domain-bounded)
    val cg = ev.groupBy("event_type", "c").agg(count(lit(1)).as("cn"))
    val wc = Window.partitionBy("event_type").orderBy("c")
    val cumc = cg.withColumn("cumc", sum("cn").over(wc))
      .join(broadcast(totals), Seq("event_type"))
    val exact = cumc.select(col("event_type"), col("c"), col("cumc"),
        explode(array(qs: _*)).as("p"))
      .filter(col("cumc") >= col("p.r"))
      .groupBy(col("event_type"), col("p.q").as("q"))
      .agg((min("c").cast("double") / 100.0).as("exact"))
    hit.join(exact, Seq("event_type", "q"))
      .select(col("event_type"), col("q"), col("n"),
        round(est, 6).as("est"), round(col("exact"), 6).as("exact"),
        round(abs(est - col("exact")) / col("exact"), 6).as("rel_err"))
      .orderBy("event_type", "q")
  }

  val ddsketchQuantilesSql: String = {
    val k = DdSubBuckets
    val qrows = DdQuantiles
      .map(q => s"SELECT $q::DOUBLE AS q").mkString(" UNION ALL ")
    s"""WITH ev AS (
       |  SELECT event_type, floor(value * 100)::BIGINT AS c FROM events
       |), eb AS (
       |  SELECT event_type, c,
       |         CASE WHEN c >= 1 THEN length(bin(c)) - 1 END AS e
       |  FROM ev
       |), bk AS (
       |  SELECT event_type,
       |         CASE WHEN c >= 1
       |              THEN e::BIGINT * $k +
       |                   ((c - (2.0 ^ e)::BIGINT) * $k)
       |                     // (2.0 ^ e)::BIGINT
       |              ELSE -1 END AS bucket
       |  FROM eb
       |), sk AS (
       |  SELECT event_type, bucket, COUNT(*) AS bn FROM bk GROUP BY 1, 2
       |), tot AS (
       |  SELECT event_type, SUM(bn) AS n FROM sk GROUP BY 1
       |), cum AS (
       |  SELECT s.event_type, s.bucket, t.n,
       |         SUM(s.bn) OVER (PARTITION BY s.event_type
       |                         ORDER BY s.bucket) AS cum
       |  FROM sk s JOIN tot t USING (event_type)
       |), qs AS ($qrows),
       |hit AS (
       |  SELECT event_type, q, MAX(n) AS n, MIN(bucket) AS bucket
       |  FROM cum CROSS JOIN qs
       |  WHERE cum >= ceil(q * n)
       |  GROUP BY 1, 2
       |), cg AS (
       |  SELECT event_type, c, COUNT(*) AS cn FROM ev GROUP BY 1, 2
       |), cumc AS (
       |  SELECT g.event_type, g.c, t.n,
       |         SUM(g.cn) OVER (PARTITION BY g.event_type
       |                         ORDER BY g.c) AS cumc
       |  FROM cg g JOIN tot t USING (event_type)
       |), ex AS (
       |  SELECT event_type, q, MIN(c)::DOUBLE / 100.0 AS exact
       |  FROM cumc CROSS JOIN qs
       |  WHERE cumc >= ceil(q * n)
       |  GROUP BY 1, 2
       |), est AS (
       |  SELECT event_type, q, n::BIGINT AS n,
       |         CASE WHEN bucket >= 0
       |              THEN (2.0 ^ floor(bucket / $k)) *
       |                   (1.0 + ((bucket % $k)::DOUBLE + 0.5) / $k)
       |                   / 100.0
       |              ELSE 0.0 END AS est
       |  FROM hit
       |)
       |SELECT e.event_type, e.q, e.n, round(e.est, 6) AS est,
       |       round(x.exact, 6) AS exact,
       |       round(abs(e.est - x.exact) / x.exact, 6) AS rel_err
       |FROM est e JOIN ex x USING (event_type, q)
       |ORDER BY e.event_type, e.q""".stripMargin
  }
}
