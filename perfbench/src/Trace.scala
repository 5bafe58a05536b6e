package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** In-memory spans (workload → round → op → phase). When a SparkContext is
  * given, the open span's id rides on the jobs as a local property, so the
  * [[Tracer]] can hang each job under the phase that launched it. */
final class Spans(sc: Option[SparkContext]) {
  final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
                   val startNs: Long) { var endNs: Long = Long.MaxValue }

  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  /** Wall-clock nanoseconds, on the same clock as Spark's job times. */
  def now(): Long = epochNs0 + (System.nanoTime() - nano0)

  private val all = mutable.LinkedHashMap.empty[Long, Span]
  private var next = 1L

  def open(kind: String, name: String, parent: Long): Long = {
    val s = new Span(next, parent, kind, name, now())
    all(s.id) = s
    next += 1
    sc.foreach(_.setLocalProperty(Tracer.SpanKey, s.id.toString))
    s.id
  }

  def close(id: Long): Unit = {
    val s = all(id)
    s.endNs = now()
    sc.foreach(_.setLocalProperty(Tracer.SpanKey, if (s.parent > 0) s.parent.toString else null))
  }

  def contains(id: Long, ms: Long): Boolean = all.get(id).exists { s =>
    s.startNs / 1000000L <= ms && ms <= s.endNs / 1000000L }

  /** The innermost span open at `ms`; 0 when none is. */
  def innermostAt(ms: Long): Long =
    all.values.filter(s => contains(s.id, ms)).lastOption.map(_.id).getOrElse(0L)

  /** `id` and every span below it. */
  def descendants(id: Long): Set[Long] = {
    val kids = all.values.groupBy(_.parent)
    def walk(i: Long): Seq[Long] = i +: kids.getOrElse(i, Nil).toSeq.flatMap(s => walk(s.id))
    walk(id).toSet
  }

  /** One JSON object per line: the spans, then the jobs under them. */
  def write(path: String, tracer: Option[Tracer]): Unit = {
    val lines = all.values.map(s => Json.obj(Map(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))) ++
      tracer.toSeq.flatMap(_.jobs).map(j => Json.obj(Map(
        "kind" -> "job", "job_id" -> j.id, "parent" -> j.span, "name" -> j.site,
        "start_ns" -> j.submitMs * 1000000L, "end_ns" -> j.endMs * 1000000L,
        "tasks" -> j.tasks, "task_cpu_ns" -> j.cpuNs, "task_run_ms" -> j.runMs,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
        "input_rows" -> j.inputRows, "input_bytes" -> j.inputBytes,
        "output_bytes" -> j.outputBytes, "execution" -> j.execution.getOrElse(""))))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Counts the jobs, stages and tasks each span launches and attributes
  * each job to the source file named in its call site
  * (`parquet at Tables.scala:66` → `Tables.scala`). */
final class Tracer(sc: SparkContext) extends SparkListener {
  /** `site` is the call site of the action that launched the job: that
    * of its SQL execution once [[drain]] has run, since adaptive execution
    * submits jobs from its own threads. */
  final class Job(val id: Int, val submitMs: Long, var site: String, val prop: Option[Long],
                  val execution: Option[String]) {
    var endMs: Long = submitMs
    var span = 0L
    var outputBytes = 0L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputRows = 0L
    var inputBytes = 0L
    val stages: mutable.Set[Int] = mutable.Set.empty
    def seconds: Double = (endMs - submitMs) / 1e3
    def stagesRun: Int = stages.size
    def file: String = Tracer.fileOf(site).getOrElse("other")
  }

  private val byId = mutable.LinkedHashMap.empty[Int, Job]
  private val executionSite = mutable.Map.empty[String, String]
  private val stageJob = mutable.Map.empty[Int, Job]
  def jobs: Seq[Job] = synchronized(byId.values.toSeq)

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val j = new Job(e.jobId, e.time, site, prop(Tracer.SpanKey).map(_.toLong),
      prop("spark.sql.execution.id"))
    byId(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      synchronized(executionSite(x.executionId.toString) = x.description)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.stages += e.stageId
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputRows += m.inputMetrics.recordsRead
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Wait for the listener bus, then hang every job under its span: the
    * span named by its property when that span was open at submission
    * (pool threads can carry a stale one), else the innermost open span. */
  def drain(spans: Spans): Unit = {
    org.apache.spark.PerfBenchBus.drain(sc)
    jobs.foreach { j =>
      j.span = j.prop.filter(spans.contains(_, j.submitMs)).getOrElse(spans.innermostAt(j.submitMs))
    }
    jobs.foreach(j => j.execution.flatMap(executionSite.get).foreach(j.site = _))
  }

  /** Jobs of SQL executions that wrote output, and of those that did not. */
  def writing(js: Seq[Job]): (Seq[Job], Seq[Job]) = {
    val writers = js.filter(_.outputBytes > 0).flatMap(_.execution).toSet
    js.partition(j => j.execution.exists(writers))
  }

  def jobsUnder(ids: Set[Long]): Seq[Job] = jobs.filter(j => ids.contains(j.span))
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val SiteFile = """ at ([\w$]+\.scala):""".r
  def fileOf(site: String): Option[String] = SiteFile.findFirstMatchIn(site).map(_.group(1))
}
