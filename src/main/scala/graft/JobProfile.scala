package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Optimization-round instrumentation (guide §1): per query, split the
  * wall clock into BUILDER time (the driver-side plan construction,
  * which for the training-based queries includes every codebook /
  * Lloyd-stats collect job) and ACTION time (the final plan's
  * execution), and count the Spark jobs each phase submits. Reps > 1
  * report the LAST rep, so codegen/JIT warmup is excluded — the same
  * steady state Bench's min-of-2 reports.
  *
  * Usage: runMain graft.JobProfile <sfDir> <reps> <queryPrefix...>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val prefixes = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // plain concurrent map (NOT a session memo — the PlanSpec registry
    // lint reserves the scala concurrent-map type for Memo/Scratch)
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var jobs = List.empty[(Int, Long)] // (jobId, ms)
    // per-stage: (stageId, wall ms, Σ task executorRunTime ms, nTasks)
    @volatile var stages = List.empty[(Int, Long, Long, Int)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(j.jobId)).foreach { t0 =>
          jobs = (j.jobId, j.time - t0) :: jobs
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val wall = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(-1L)
        stages = (i.stageId, wall, i.taskMetrics.executorRunTime,
          i.numTasks) :: stages
      }
    })

    // session warmup (Bench's shape)
    spark.range(1000).selectExpr("id % 10 as k", "id")
      .groupBy("k").count().collect()

    val selected = SparkEntry.queries.filter { case (n, _) =>
      prefixes.exists(n.startsWith) }
    selected.foreach { case (name, fn) =>
      var line = ""
      for (r <- 1 to reps) {
        jobs = Nil; stages = Nil
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val buildJobs = jobs; val buildStages = stages
        jobs = Nil; stages = Nil
        df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        val actJobs = jobs; val actStages = stages
        Scratch.drain(spark)
        def fmt(js: List[(Int, Long)]): String =
          js.sortBy(_._1).map { case (_, ms) => ms }.mkString("+")
        def fmtS(ss: List[(Int, Long, Long, Int)]): String =
          ss.sortBy(_._1).map { case (_, w, rt, n) => s"$w/$rt/$n" }
            .mkString(" ")
        line = f"$name%s rep$r build=${(t1 - t0) / 1e9}%.2fs " +
          f"(jobs n=${buildJobs.size} ms=[${fmt(buildJobs)}]) " +
          f"action=${(t2 - t1) / 1e9}%.2fs " +
          f"(jobs n=${actJobs.size} ms=[${fmt(actJobs)}])"
        println(line)
        if (r == reps) {
          println(s"  build stages wall/run/ntasks: ${fmtS(buildStages)}")
          println(s"  action stages wall/run/ntasks: ${fmtS(actStages)}")
        }
      }
    }
    spark.stop()
  }
}
