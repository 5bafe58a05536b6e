package graft

/** The round-6 bench hardening: a one-off environment stall must not
  * survive as a query's published time (BENCH_r05 recorded 99.8s for a
  * query that reproducibly runs in 1.4s because the repCap skip left a
  * stalled first run unchallenged). */
class BenchSpec extends SparkSpec {

  private val instant =
    (s: org.apache.spark.sql.SparkSession, _: String) => s.range(1).toDF()

  test("steadyTimes loads the SCALING side matching the sfDir") {
    // own fixture file, not the checked-in SCALING.json — the suite
    // must not depend on one machine's testdata layout or on whether
    // the round has refreshed the real file yet (round-6 ADVICE)
    val f = java.nio.file.Files.createTempFile("scaling", ".json")
    java.nio.file.Files.writeString(f,
      """{"small":"dirA","big":"dirB",
        |"t_small":{"q1":0.5,"q2":1.25},"t_big":{"q1":2.0,"q2":9.5}}"""
        .stripMargin.replace("\n", ""))
    val (small, sNote) = Bench.steadyTimes("dirA", f.toString)
    val (big, bNote) = Bench.steadyTimes("dirB", f.toString)
    assert(small == Map("q1" -> 0.5, "q2" -> 1.25) && sNote.startsWith("ok"))
    assert(big == Map("q1" -> 2.0, "q2" -> 9.5) && bNote.startsWith("ok"))
    val (none, nNote) = Bench.steadyTimes("/no/such/dir", f.toString)
    assert(none.isEmpty && nNote.contains("no side"),
      "an unmatched dir must say so, not silently disable the shield")
    val (missing, mNote) = Bench.steadyTimes("dirA", "/no/such/file.json")
    assert(missing.isEmpty && mNote.contains("unreadable"),
      "a missing reference file must be visible in the status note")
    java.nio.file.Files.delete(f)
  }

  test("retryOutliers re-measures a query recorded far above steady") {
    val (fixed, flagged, _) = Bench.retryOutliers(spark, sf001,
      Map("stalled" -> instant, "fine" -> instant),
      Map("stalled" -> 99.9, "fine" -> 0.4),
      repCap = 60.0,
      steady = Map("stalled" -> 1.4, "fine" -> 0.5))
    assert(flagged.keySet == Set("stalled"), "only the outlier retries")
    assert(flagged("stalled") == 99.9, "raw value preserved for the report")
    assert(fixed("stalled") < 99.9, "retry must replace the stalled record")
    assert(fixed("fine") == 0.4, "in-range queries keep their first-pass min")
  }

  test("retryOutliers retries a >=repCap run even with no steady reference") {
    val (fixed, flagged, _) = Bench.retryOutliers(spark, sf001,
      Map("newq" -> instant, "newq2" -> instant),
      Map("newq" -> 75.0, "newq2" -> 3.0),
      repCap = 60.0, steady = Map.empty)
    assert(flagged.keySet == Set("newq"),
      "no-reference queries flag only at the repCap rule")
    assert(fixed("newq") < 75.0)
    assert(fixed("newq2") == 3.0)
  }

  test("retryOutliers bar is 3x steady: 2.5x stands, 4x retries") {
    // round-6 lesson: the 10x bar let broad 2-8x inflation stand
    // (~105s of the published 282.6s total); 3x is the new trigger
    val (fixed, flagged, _) = Bench.retryOutliers(spark, sf001,
      Map("mild" -> instant, "inflated" -> instant),
      Map("mild" -> 5.0, "inflated" -> 8.0),
      repCap = 60.0,
      steady = Map("mild" -> 2.0, "inflated" -> 2.0))
    assert(flagged.keySet == Set("inflated"))
    assert(fixed("mild") == 5.0 && fixed("inflated") < 8.0)
  }

  test("retryOutliers sweeps again when the retry itself came back hot") {
    // first retry is still stalled (sleeps past 3x steady), second is
    // instant — the bounded second sweep must pick up the clean run.
    // steady=2.0 puts the 3x bar at 6s, far above any realistic
    // range(1) job overhead, so the assertion can't flake under load
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = (s: org.apache.spark.sql.SparkSession, _: String) => {
      if (calls.getAndIncrement() == 0) Thread.sleep(7000)
      s.range(1).toDF()
    }
    val (fixed, flagged, _) = Bench.retryOutliers(spark, sf001,
      Map("q" -> flaky), Map("q" -> 30.0), repCap = 60.0,
      steady = Map("q" -> 2.0))
    assert(flagged == Map("q" -> 30.0))
    assert(fixed("q") < 6.0,
      s"second sweep must capture the clean run, got ${fixed("q")}")
    assert(calls.get() == 2, "exactly two retry sweeps")
  }

  test("retryOutliers keeps the min when the retry itself stalls") {
    val slow =
      (s: org.apache.spark.sql.SparkSession, _: String) => {
        Thread.sleep(1500); s.range(1).toDF()
      }
    val (fixed, _, _) = Bench.retryOutliers(spark, sf001,
      Map("q" -> slow), Map("q" -> 1.1), repCap = 60.0,
      steady = Map("q" -> 0.05))
    assert(fixed("q") == 1.1, "a slower retry must never worsen the record")
  }

  test("a query that throws is recorded as failed, not timed") {
    val brokenBuild = (_: org.apache.spark.sql.SparkSession, _: String) =>
      throw new IllegalStateException("builder broke")
    val brokenRun = (s: org.apache.spark.sql.SparkSession, _: String) =>
      s.range(1).select(org.apache.spark.sql.functions.raise_error(
        org.apache.spark.sql.functions.lit("execution broke"))).toDF()
    val (times, failed) = Bench.runSuite(spark, sf001,
      Map("ok" -> instant, "build" -> brokenBuild, "run" -> brokenRun),
      reps = 2, repCap = 60.0)
    assert(times.keySet == Set("ok"),
      s"a failed query must not carry a time: $times")
    assert(failed == Set("build", "run"))
    // a flagged query whose retry throws leaves the times too
    val (fixed, flagged, retryFailed) = Bench.retryOutliers(spark, sf001,
      Map("stalled" -> brokenRun, "fine" -> instant),
      Map("stalled" -> 99.9, "fine" -> 0.4), repCap = 60.0,
      steady = Map("stalled" -> 1.4, "fine" -> 0.5))
    assert(flagged.keySet == Set("stalled"))
    assert(fixed == Map("fine" -> 0.4) && retryFailed == Set("stalled"))
  }
}
