package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Time every selected query at one SF: per-query min over REPS runs —
    * single runs at these sizes carry ±50% JVM/JIT noise, and min-of-2 is
    * the cheapest stable estimator of the plan's actual cost. Queries
    * whose FIRST rep already ran this long skip their repeats. The cap
    * sits ABOVE the dedup family's first-run cost (q30 measured 13.4s
    * cold vs 2.3s steady — whole-stage codegen compilation of the
    * prefix-join pipeline dominates the first run), because min-of-2 is
    * exactly what removes that compile tax from the reported number;
    * only the genuinely-long tail (≥15s steady) skips its repeat.
    * None when the query threw: its time to failure is no query time. */
  def timeOnce(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : Option[Double] = {
    val t0 = System.nanoTime()
    // toRdd.count(), not count(): Dataset.count() collapses to a
    // count(1) agg that elides sorts and expensive projections, which
    // would under-measure; materializing the final InternalRows runs
    // the full physical plan without collecting to the driver.
    val ran =
      try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e"); false }
    val dt = (System.nanoTime() - t0) / 1e9
    // drain scratch caches between reps: keeps the rep honest (no
    // free ride on the previous rep's cache) and bounds storage
    Scratch.drain(spark)
    if (ran) Some(dt) else None
  }

  /** Per-query min over the reps of every selected query that ran, and
    * the names of the queries that threw on any rep: a failed query
    * has no time, so it stays out of the times and the total. */
  def runSuite(spark: SparkSession, sfDir: String,
      selected: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame],
      reps: Int, repCap: Double): (Map[String, Double], Set[String]) = {
    val runs = selected.map { case (name, fn) =>
      val first = timeOnce(spark, sfDir, name, fn)
      name -> (first +: (2 to reps).filter(_ => first.exists(_ < repCap))
        .map(_ => timeOnce(spark, sfDir, name, fn)))
    }
    val failed = runs.collect { case (n, ts) if ts.contains(None) => n }.toSet
    (runs.collect { case (n, ts) if !failed(n) => n -> ts.flatten.min },
      failed)
  }

  /** Steady-time reference for the outlier retry: SCALING.json's
    * per-query times for this sfDir (t_big or t_small, whichever side
    * recorded this directory), parsed with Spark's bundled Jackson.
    * Empty when the file or the side is absent — then only the
    * ≥repCap rule below can flag — and the second element says WHY,
    * recorded in the bench JSON: a malformed or moved reference file
    * silently disabling the retry shield (the exact BENCH_r05 failure
    * mode) must be visible in the report, not discovered a round
    * later (round-6 ADVICE). */
  def steadyTimes(sfDir: String,
      file: String = "SCALING.json"): (Map[String, Double], String) =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(
        java.nio.file.Files.readString(java.nio.file.Paths.get(file)))
      val side = if (root.path("big").asText() == sfDir) "t_big"
        else if (root.path("small").asText() == sfDir) "t_small"
        else return (Map.empty, s"no side of $file matches $sfDir")
      val node = root.path(side)
      val it = node.fieldNames()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val k = it.next(); b += k -> node.path(k).asDouble() }
      (b.result(), s"ok ($side)")
    } catch { case e: Throwable =>
      (Map.empty, s"unreadable $file: ${e.getClass.getSimpleName}") }

  /** End-of-suite outlier retry (round-5 lesson: BENCH_r05 froze a
    * 99.8s environment stall into a 1.4s query's record because the
    * repCap skip left the first run unchallenged). Any query whose min
    * exceeds 3× its SCALING steady time (round-6 lesson: the original
    * 10× bar caught the 16 hard stalls but let ~105s of broad 2-8×
    * inflation stand — q159 published 12.45s for a 2.5s query) — or
    * that ran ≥ repCap with no steady reference to compare against —
    * is re-measured after the whole suite, when whatever stalled the
    * box has had the suite's full duration to clear; the reported
    * value never worsens (min of all measurements). Sweeps repeat
    * until nothing stays flagged or maxSweeps runs out, so one more
    * stall DURING the retry pass can't freeze in either. Returns
    * (final times, first-pass raw values of every flagged query —
    * kept verbatim so contamination stays visible in the report —
    * and the queries whose retry threw, which leave the times). */
  def retryOutliers(spark: SparkSession, sfDir: String,
      selected: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame],
      results: Map[String, Double], repCap: Double,
      steady: Map[String, Double], maxSweeps: Int = 2)
      : (Map[String, Double], Map[String, Double], Set[String]) = {
    def flaggedIn(rs: Map[String, Double]): Set[String] =
      rs.filter { case (q, t) =>
        steady.get(q) match {
          // the >1s floor keeps sub-second noise (steady 0.2s recorded
          // 0.7s) from triggering dozens of pointless re-runs
          case Some(s) => t > 3.0 * s && t > 1.0
          case None => t >= repCap
        }
      }.keySet
    val firstFlagged = flaggedIn(results).map(q => q -> results(q)).toMap
    var current = results
    var failed = Set.empty[String]
    var pending = firstFlagged.keySet
    var sweep = 0
    while (pending.nonEmpty && sweep < maxSweeps) {
      val retried = pending.toSeq.map { q =>
        q -> timeOnce(spark, sfDir, q, selected(q)) }
      val threw = retried.collect { case (q, None) => q }
      failed ++= threw
      current = current -- threw ++ retried.collect { case (q, Some(t)) =>
        q -> math.min(t, current(q)) }
      pending = flaggedIn(current.view.filterKeys(pending).toMap)
      sweep += 1
    }
    (current, firstFlagged, failed)
  }

  private def jsonMap(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def jsonNames(ns: Iterable[String]): String =
    ns.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // events fixture is TIMESTAMP(NANOS) parquet in older rounds
      // (Tables.load also sets this for every events load)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // ERROR: WARN spam (WindowExec/cache notices) otherwise floods the
    // harness tail around the one JSON result line
    spark.sparkContext.setLogLevel("ERROR")
    // warm up the session (task scheduling, codegen, shuffle machinery,
    // the parquet scan path) so the first timed query doesn't absorb
    // JVM/session init — the groupBy forces an Exchange, which the
    // plain sum would not
    spark.range(1000).selectExpr("id % 10 as k", "id")
      .groupBy("k").count().collect()
    // warm BroadcastExchange + decimal hash-agg codegen, the q01 shape
    spark.range(1000).selectExpr("id % 7 as k", "cast(id as decimal(18,2)) as m")
      .join(org.apache.spark.sql.functions.broadcast(
        spark.range(7).selectExpr("id as k")), "k")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("m")).collect()
    Tables.load(spark, sfDir, "region").count()
    // optional args: run only queries whose name starts with one of them
    // (local iteration aid; the driver passes no args → full suite).
    // A no-args run drops the declared fixture-scale exact references
    // (SparkEntry.benchExcluded: q137/q246) — they are correctness
    // ground truth, not a performance surface, and their intentional
    // quadratic cost at sf0.1 only obscures the headline; naming one
    // as a prefix arg still times it.
    val selected =
      if (args.isEmpty)
        SparkEntry.queries.filter { case (n, _) =>
          !SparkEntry.benchExcluded(n) }
      else SparkEntry.queries.filter { case (n, _) => args.exists(n.startsWith) }
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    // 60s, not 15: the suite's slowest steady query is ~4s, so the only
    // first runs ever above 15s are TRANSIENT stalls (GC/IO hiccups) —
    // and skipping their repeat freezes the stall into the report
    // (q163 once recorded 22s for a 1.4s query exactly this way). The
    // cap now only guards against a pathological minute-plus run.
    val repCap = sys.env.getOrElse("SPARK_GRAFT_REP_CAP_SEC", "60.0").toDouble

    // Optional scale-trend mode: SPARK_GRAFT_SCALING_DIRS=dirA,dirB
    // (small first) times every query at BOTH SFs and writes
    // SCALING.json with per-query ratios. For the standard 10× row
    // growth (sf0.01 → sf0.1), a ratio far above 10 means the plan has
    // a superlinear shape the plan pins can't see; constant JVM/plan
    // overhead biases ratios DOWN, so a high ratio is a true signal.
    // Queries faster than floorSec at the small SF are overhead-
    // dominated on both sides — their ratio is noise, not a trend —
    // and are reported but never flagged.
    sys.env.get("SPARK_GRAFT_SCALING_DIRS").foreach { dirs =>
      val Array(small, big) = dirs.split(",").map(_.trim)
      val threshold =
        sys.env.getOrElse("SPARK_GRAFT_SCALING_MAX_RATIO", "15.0").toDouble
      val floorSec =
        sys.env.getOrElse("SPARK_GRAFT_SCALING_FLOOR_SEC", "0.15").toDouble
      // the same stall-retry shield as the headline bench: a one-off
      // environment stall on either side would otherwise fabricate (or
      // mask) a scale-trend flag
      def timed(dir: String): (Map[String, Double], Set[String]) = {
        val (raw, failedRun) = runSuite(spark, dir, selected, reps, repCap)
        val (ts, _, failedRetry) = retryOutliers(spark, dir, selected, raw,
          repCap, steadyTimes(dir)._1)
        (ts, failedRun ++ failedRetry)
      }
      val (tSmall, failedSmall) = timed(small)
      val (tBig, failedBig) = timed(big)
      // a query that failed on either side has no ratio
      val ratios = tSmall.keySet.intersect(tBig.keySet).toSeq.sorted.map {
        q => q -> tBig(q) / math.max(tSmall(q), 1e-9) }
      val flagged = ratios.filter { case (q, r) =>
        r > threshold && tSmall(q) >= floorSec }
      val json =
        s"""{"small":"$small","big":"$big","reps":$reps,""" +
          s""""max_ratio":$threshold,"floor_sec":$floorSec,""" +
          s""""t_small":${jsonMap(tSmall.toSeq.sortBy(_._1))},""" +
          s""""t_big":${jsonMap(tBig.toSeq.sortBy(_._1))},""" +
          s""""ratio":${jsonMap(ratios)},""" +
          s""""flagged":${jsonMap(flagged)},""" +
          s""""failed":${jsonNames(failedSmall ++ failedBig)}}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("SCALING.json"), json + "\n")
      println(s"""{"metric":"scaling_flagged","value":${flagged.size},""" +
        s""""queries":${jsonMap(flagged)},"file":"SCALING.json"}""")
      spark.stop()
      return
    }

    val (raw, failedRun) = runSuite(spark, sfDir, selected, reps, repCap)
    val (steady, steadyNote) = steadyTimes(sfDir)
    val (results, flaggedRaw, failedRetry) =
      retryOutliers(spark, sfDir, selected, raw, repCap, steady)
    // "failed" names every query that threw: none of them counts in
    // "queries" or the total
    val failed = jsonNames(failedRun ++ failedRetry)
    val qs = jsonMap(results)
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // "retried" records the pre-retry raw value of every flagged query
    // so a stall-poisoned first pass stays visible in the report;
    // "steady_ref" says whether the retry shield actually had a
    // reference to key off (an unreadable SCALING.json degrades the
    // shield to repCap-only — that must be visible here);
    // "steady_ratio" (round-10 verdict #6) is reported / steady-ref
    // time PER QUERY, so any reader separates a churned-box window
    // (ratios uniformly > 1) from a plan regression (concentrated
    // ratio spike) without re-running anything
    val ratios = results.toSeq.collect {
      case (q, t) if steady.get(q).exists(_ > 0) =>
        q -> math.rint(t / steady(q) * 1000) / 1000
    }.sortBy(_._1)
    val full = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      s""""queries":$qs,"retried":${jsonMap(flaggedRaw.toSeq.sortBy(_._1))},""" +
      s""""steady_ratio":${jsonMap(ratios)},""" +
      s""""steady_ref":"$steadyNote","failed":$failed,"sf":"$sfDir"}"""
    // The driver captures a bounded tail of stdout: a ~4KB 104-query
    // line can get its head (and the total) truncated away, which is
    // exactly what nulled BENCH_r02's parse. So (a) persist the full
    // JSON to a file, (b) print it, and (c) print LAST a compact line —
    // total + slowest 5 — that always fits any tail window.
    // only a FULL-suite run may replace the persisted benchmark — a
    // prefix-filtered iteration run would otherwise clobber it with a
    // one-query file
    if (args.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL.json"), full + "\n")
      catch { case _: Throwable => () }
    println(full)
    val slowest = jsonMap(results.toSeq.sortBy(-_._2).take(5))
    println(s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$slowest,"failed":$failed,"sf":"$sfDir","full":"BENCH_FULL.json"}""")
    spark.stop()
  }
}
