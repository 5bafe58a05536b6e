package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkEntry, Tables}
import graft.etl.{CountryDim, Ingest, LoadJob, Quality}

/** One closed-loop client running one workload in a fresh JVM.
  *
  * Set-up builds the SparkSession once and reports the CPU time the JVM
  * has used since it started. A first pass warms the JIT and writes every
  * query's result for the DuckDB check that `run.py` makes afterwards; its
  * operations count in `attempted` and `failed` like the timed ones. Timed
  * rounds then repeat the same operations until
  * `--seconds` have passed, always finishing the round they started; each
  * round runs in a new session and an empty index-artifact root, so no
  * `Memo`, `Scratch` or `IndexArtifact` state carries over.
  *
  * With `--trace 1` a [[Tracer]] listener records every Spark job, and the
  * phase spans recorded here are written to `--spans`; per-layer figures
  * are the median over the timed rounds.
  */
object Main {
  /** Timed rounds a run makes however short `--seconds` is. */
  val MinRounds = 2

  final case class Conf(args: Map[String, String]) {
    def apply(k: String): String = args(k)
    val workload: String = args("workload")
    val fixtures: String = args("fixtures")
    val work: String = args("work")
    val seconds: Double = args("seconds").toDouble
    val trace: Boolean = args("trace") == "1"
    val cores: Int = args("cores").toInt
    val ops: Seq[String] = args.get("ops").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  }

  def main(argv: Array[String]): Unit = {
    val conf = Conf(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val result = run(conf)
    Files.write(Paths.get(conf("out")), Json.obj(result).getBytes(StandardCharsets.UTF_8))
  }

  def session(conf: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.local.dir", s"${conf.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // fixed warm-up: a scan, a join, an aggregate and a window over a
    // generated range, so the timed rounds do not pay Spark's own JIT
    spark.range(0, 200000).selectExpr("id", "id % 97 AS k")
      .join(spark.range(0, 97).selectExpr("id AS k", "id * 2 AS v"), "k")
      .groupBy("k").agg(sum("v").as("s"))
      .selectExpr("k", "rank() OVER (ORDER BY s, k) AS r")
      .collect()
    spark
  }

  /** The session set-up from JVM start: the JVM CPU time and the wall
    * time it took. */
  def setUp(conf: Conf): (SparkSession, Double, Double) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(conf)
    (spark, Ops.cpuNs() / 1e9, (System.currentTimeMillis() - jvmStart) / 1e3)
  }

  def run(conf: Conf): Map[String, Any] = {
    val (base, setupS, setupWallS) = setUp(conf)
    val tracer = if (conf.trace) Some(new Tracer(base.sparkContext)) else None
    val spans = new Spans(tracer.map(_ => base.sparkContext))
    val workload: Workload = conf.workload match {
      case "etl_load" => new EtlLoad(conf, spans)
      case _ => new Queries(conf, spans)
    }
    val wl = spans.open("workload", conf.workload, 0L)
    val fp = spans.open("first_pass", "first_pass", wl)
    val firstPass = workload.prepare(base.newSession(), fp)
    spans.close(fp)
    val rounds = mutable.ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    while (rounds.size < Main.MinRounds || (System.nanoTime() - t0) / 1e9 < conf.seconds) {
      val rs = spans.open("round", s"round${rounds.size + 1}", wl)
      val r = workload.round(base.newSession(), rs)
      spans.close(rs)
      rounds += r
    }
    val probes = if (conf.trace) workload.probes(base.newSession(), wl) else Map.empty[String, Double]
    spans.close(wl)

    val ops = firstPass ++ rounds.flatMap(_.ops)
    // each operation's median over the rounds, so that one slow round
    // (the first is still warming up) does not move the figures
    def pass(f: Op => Double) = rounds.flatMap(_.ops).filter(_.ok).groupBy(_.name).values
      .map(os => Stats.median(os.map(f).toSeq)).sum
    // wall-clock times stay per-layer: CPU steal on a shared host moved
    // them by a quarter between runs, CPU time by a tenth (README)
    val e2e = Map(
      "setup_s" -> setupS,
      "first_pass_cpu_s" -> firstPass.filter(_.ok).map(_.cpuS).sum,
      "pass_cpu_s" -> pass(_.cpuS))
    val layers = tracer.map { t =>
      t.drain(spans)
      val perRound = rounds.map(r => workload.layerMetrics(r, t, spans))
      Layers.Names.map(k => k -> Stats.median(perRound.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++
        probes ++ Map("trace.setup_s" -> setupWallS, "trace.first_pass_s" -> firstPass.filter(_.ok).map(_.totalS).sum,
          "trace.pass_s" -> pass(_.totalS))
    }.getOrElse(Map.empty)
    conf.args.get("spans").foreach(p => spans.write(p, tracer))
    base.stop()
    Map(
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "errors" -> ops.filterNot(_.ok).map(o => s"${o.name}: ${o.error}").distinct.toSeq,
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "check" -> workload.checkInfo)
  }
}

/** One timed operation; `phases` holds the span id and seconds of each,
  * `cpuS` the CPU time of the whole JVM while it ran. */
final case class Op(name: String, span: Long, ok: Boolean, error: String,
                    phases: Seq[(String, Long, Double)], cpuS: Double = 0.0) {
  def totalS: Double = phases.map(_._3).sum
}

final case class Round(span: Long, wallS: Double, ops: Seq[Op],
                       extra: Map[String, Double] = Map.empty)

trait Workload {
  /** The first pass: warms the JIT and leaves outputs for the
    * correctness check. */
  def prepare(spark: SparkSession, span: Long): Seq[Op]
  def round(spark: SparkSession, span: Long): Round
  /** Traced runs only: layer probes timed apart from the rounds. */
  def probes(spark: SparkSession, parent: Long): Map[String, Double]
  def layerMetrics(r: Round, t: Tracer, spans: Spans): Map[String, Double]
  def checkInfo: Map[String, Any]
}

/** Runs each phase of an operation under its own span and times it. */
final class Phases(spans: Spans, opSpan: Long) {
  val done = mutable.ArrayBuffer.empty[(String, Long, Double)]
  def apply[T](phase: String)(body: => T): T = {
    val id = spans.open("phase", phase, opSpan)
    val t0 = System.nanoTime()
    try {
      val out = body
      done += ((phase, id, (System.nanoTime() - t0) / 1e9))
      out
    } finally spans.close(id)
  }
}

object Ops {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM, JIT and GC threads included. */
  def cpuNs(): Long = os.getProcessCpuTime

  def timed(spans: Spans, name: String, parent: Long)(body: Phases => Unit): Op = {
    val id = spans.open("op", name, parent)
    val ph = new Phases(spans, id)
    val cpu0 = cpuNs()
    val op =
      try { body(ph); Op(name, id, ok = true, "", ph.done.toSeq, (cpuNs() - cpu0) / 1e9) }
      catch { case NonFatal(e) =>
        Op(name, id, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), Nil) }
    spans.close(id)
    op
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.exists()) f.length() else 0L
}

/** `llm_ops`: queries from `SparkEntry.queries`. */
final class Queries(conf: Main.Conf, spans: Spans) extends Workload {
  private val dir = conf.fixtures
  private val indexRoot = new File(sys.props("java.io.tmpdir"), "graft_index")
  private val indexBuild = "q277_index_build"
  private val indexServe = "q278_index_serve"
  private val results = s"${conf.work}/results"

  def prepare(spark: SparkSession, span: Long): Seq[Op] = {
    Ops.deleteTree(indexRoot)
    conf.ops.map { q =>
      val op = Ops.timed(spans, q, span) { ph =>
        val df = ph("build")(SparkEntry.queries(q)(spark, dir))
        ph("exec")(df.write.parquet(s"$results/$q"))
      }
      Scratch.drain(spark)
      op
    }
  }

  def round(spark: SparkSession, span: Long): Round = {
    Ops.deleteTree(indexRoot)
    var indexBytes = 0.0
    val t0 = System.nanoTime()
    val ops = conf.ops.map { q =>
      val op = Ops.timed(spans, q, span) { ph =>
        val df = ph("build")(SparkEntry.queries(q)(spark, dir))
        ph("plan")(df.queryExecution.executedPlan)
        ph("exec")(df.queryExecution.toRdd.count())
      }
      Scratch.drain(spark)
      if (q == indexBuild && conf.trace) indexBytes = Ops.treeBytes(indexRoot).toDouble
      op
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Round(span, wall, ops, Map("index.bytes_written" -> indexBytes))
  }

  def probes(spark: SparkSession, parent: Long): Map[String, Double] =
    Kernels.run(spark, dir, spans, parent)

  def layerMetrics(r: Round, t: Tracer, spans: Spans): Map[String, Double] = {
    val m = Layers.phases(r, t, spans, conf.cores)
    def opWall(q: String) = r.ops.find(_.name == q).map(_.totalS).getOrElse(0.0)
    val buildJobs = r.ops.find(_.name == indexBuild)
      .map(o => t.jobsUnder(spans.descendants(o.span)).size.toDouble).getOrElse(0.0)
    m ++ r.extra ++ Map(
      "index.build_s" -> opWall(indexBuild),
      "index.build_jobs" -> buildJobs,
      "index.serve_s" -> opWall(indexServe))
  }

  def checkInfo: Map[String, Any] = Map(
    "results" -> results,
    "oracle" -> conf.ops.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap)
}

/** `etl_load`: the reference load (`LoadJob.run`) into a fresh output
  * directory, then the fact table again through `LoadJob.writeValidated`
  * over the published path. */
final class EtlLoad(conf: Main.Conf, spans: Spans) extends Workload {
  private val in = conf("etl")
  private val csv = Seq("sales", "products", "customers").map(t => s"$in/$t.csv")
  private val sourceRows = conf("source_rows").toDouble
  private val factRows = conf("fact_rows").toDouble
  private val inputBytes = csv.map(p => new File(p).length()).sum.toDouble
  private var n = 0
  private var lastOut = ""

  private def freshOut(): String = {
    if (lastOut.nonEmpty) Ops.deleteTree(new File(lastOut))
    n += 1
    lastOut = s"${conf.work}/out$n"
    lastOut
  }

  def prepare(spark: SparkSession, span: Long): Seq[Op] = round(spark, span).ops

  def round(spark: SparkSession, span: Long): Round = {
    val out = freshOut()
    val t0 = System.nanoTime()
    val runOp = Ops.timed(spans, "load_run", span) { ph =>
      ph("exec")(LoadJob.run(spark, csv(0), csv(1), csv(2), out))
    }
    val validatedOp = Ops.timed(spans, "write_validated", span) { ph =>
      val sales = ph("build")(Ingest.rename(
        Ingest.readCsv(spark, csv(0), Ingest.salesSchema), Ingest.salesRenames)
        .withColumn("TRANSACTION_DATE", try_to_date(col("TRANSACTION_DATE"))))
      ph("exec")(LoadJob.writeValidated(sales, LoadJob.salesChecks, s"$out/fact_table", "fact_table"))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val written = Seq("products", "customers", "fact_table")
      .map(t => Ops.treeBytes(new File(s"$out/$t"))).sum.toDouble
    Round(span, wall, Seq(runOp, validatedOp), Map(
      "etl.load_rows_per_s" -> (if (runOp.ok) sourceRows / runOp.totalS else 0.0),
      "etl.validated_rows_per_s" -> (if (validatedOp.ok) factRows / validatedOp.totalS else 0.0),
      "etl.bytes_written_per_input_byte" -> written / inputBytes))
  }

  def probes(spark: SparkSession, parent: Long): Map[String, Double] = {
    def read(i: Int, schema: org.apache.spark.sql.types.StructType, renames: Map[String, String]) =
      Ingest.rename(Ingest.readCsv(spark, csv(i), schema), renames)
    val sales = read(0, Ingest.salesSchema, Ingest.salesRenames)
    val products = read(1, Ingest.productsSchema, Ingest.productsRenames)
    val customers0 = read(2, Ingest.customersSchema, Ingest.customersRenames)
    val resolve = Ops.timed(spans, "etl.resolve", parent) { ph =>
      ph("exec")(CountryDim.resolve(customers0, "COUNTRY", CountryDim.dim(spark))
        .queryExecution.toRdd.count())
    }
    val gate = Ops.timed(spans, "etl.gate", parent) { ph =>
      ph("exec") {
        val customers = CountryDim.resolve(customers0, "COUNTRY", CountryDim.dim(spark))
          .withColumn("COUNTRY", col("alpha3"))
        Quality.gate(sales, LoadJob.salesChecks, "sales")
        Quality.gate(products, LoadJob.productChecks, "products")
        Quality.gate(customers, LoadJob.customerChecks, "customers")
      }
    }
    Map("etl.resolve_s" -> resolve.totalS, "etl.gate_s" -> gate.totalS)
  }

  def layerMetrics(r: Round, t: Tracer, spans: Spans): Map[String, Double] = {
    val m = Layers.phases(r, t, spans, conf.cores)
    val runJobs = r.ops.find(_.name == "load_run")
      .map(o => t.jobsUnder(spans.descendants(o.span))).getOrElse(Nil)
    // LoadJob.run's own actions are its writes and their read-backs; the
    // gate's actions sit in Quality.scala
    val (writes, others) = t.writing(runJobs)
    val readBacks = others.filter(_.file == "LoadJob.scala")
    m ++ r.extra ++ Map(
      "etl.write_s" -> writes.map(_.seconds).sum,
      "etl.readback_s" -> readBacks.map(_.seconds).sum,
      "etl.input_scans" -> runJobs.count(j => j.inputBytes > 0 && !readBacks.contains(j)).toDouble,
      "etl.validated_write_s" -> r.ops.find(_.name == "write_validated").map(_.totalS).getOrElse(0.0))
  }

  def checkInfo: Map[String, Any] = Map("out" -> lastOut)
}

/** `functions/` kernels, each as a fixed select over the fixture columns. */
object Kernels {
  import graft.functions.CosineSimilarity.cosine_sim
  import graft.functions.DotProduct.dot_product
  import graft.functions.NearestCosineCentroid.nearest_cos_centroid_off
  import graft.functions.RollingFingerprint.rolling_fingerprint
  import graft.functions.SortedIntersectSize.sorted_intersect_size
  import graft.functions.WordNgrams.word_ngrams

  /** Copies of each fixture row the kernels see, so that kernel time
    * outweighs the job's fixed cost. */
  val Copies = 256
  val Names = Seq("dot_product", "cosine_sim", "nearest_cos_centroid_off",
    "rolling_fingerprint", "sorted_intersect_size", "word_ngrams")

  def run(spark: SparkSession, dir: String, spans: Spans, parent: Long): Map[String, Double] = {
    val rng = new scala.util.Random(7)
    def unit(n: Int) = { val v = Seq.fill(n)(rng.nextGaussian()); val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s) }
    val probe = unit(64)
    val code = (0 until 16).map(i => (i.toLong, unit(64)))
    val copies = spark.range(Copies).withColumnRenamed("id", "copy")
    // inputs are cached first, so that a probe times its kernel and not
    // the parquet scan or the conversions feeding it
    val vecs = Tables.load(spark, dir, "embeddings").crossJoin(copies)
      .select(transform(col("embedding"), x => x.cast("double")).as("v")).cache()
    val docs = Tables.load(spark, dir, "documents").crossJoin(copies)
      .select(col("text"), split(col("text"), " ").as("words"))
      .withColumn("hashes", array_sort(array_distinct(transform(col("words"), w => hash(w))))).cache()
    vecs.count()
    docs.count()
    val q = typedlit(probe)
    val fixedSet = array_sort(array_distinct(transform(split(lit("the a key row scan join merge sort"), " "), w => hash(w))))
    val kernels: Seq[(String, DataFrame)] = Seq(
      "dot_product" -> vecs.select(sum(dot_product(col("v"), q))),
      "cosine_sim" -> vecs.select(sum(cosine_sim(col("v"), q))),
      "nearest_cos_centroid_off" -> vecs.select(sum(nearest_cos_centroid_off(col("v"), 0, code))),
      "rolling_fingerprint" -> docs.select(sum(rolling_fingerprint(col("text"), 8) % 1024)),
      "sorted_intersect_size" -> docs.select(sum(sorted_intersect_size(col("hashes"), fixedSet))),
      "word_ngrams" -> docs.select(sum(size(word_ngrams(col("words"), 3)))))
    val times = kernels.map { case (name, df) =>
      df.collect() // untimed: compile the plan once
      val op = Ops.timed(spans, s"kernels.$name", parent)(ph => ph("exec")(df.collect()))
      s"kernels.${name}_s" -> op.totalS
    }.toMap
    vecs.unpersist()
    docs.unpersist()
    times
  }
}

/** Build / plan / exec figures of one round from its spans and jobs. */
object Layers {
  /** Program files whose build-phase jobs are counted apart; the rest count
    * as `other`. */
  val BuildFiles = Seq("Dedup.scala", "IndexArtifact.scala", "Memo.scala", "Similarity.scala", "Tables.scala")

  /** Every per-layer metric; a workload that does not reach a layer
    * reports 0 for it. */
  val Names: Seq[String] = Seq("build.s", "build.jobs") ++
    (BuildFiles :+ "other").map("build.jobs." + _) ++ Seq(
    "plan.s", "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s",
    "exec.core_busy_ratio", "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_rows",
    "tables.schema_jobs", "tables.schema_s", "memo.checkpoint_jobs", "memo.checkpoint_s",
    "index.build_s", "index.build_jobs", "index.serve_s", "index.bytes_written",
    "etl.gate_s", "etl.resolve_s", "etl.write_s", "etl.readback_s", "etl.input_scans",
    "etl.validated_write_s", "etl.load_rows_per_s", "etl.validated_rows_per_s",
    "etl.bytes_written_per_input_byte", "trace.unaccounted_s") ++
    Kernels.Names.map(n => s"kernels.${n}_s")

  def phases(r: Round, t: Tracer, spans: Spans, cores: Int): Map[String, Double] = {
    val ok = r.ops.filter(_.ok)
    def phaseS(p: String) = ok.flatMap(_.phases).filter(_._1 == p).map(_._3).sum
    def phaseJobs(p: String) =
      t.jobsUnder(ok.flatMap(_.phases).filter(_._1 == p).map(_._2).toSet)
    val roundJobs = t.jobsUnder(spans.descendants(r.span))
    val build = phaseJobs("build")
    val exec = phaseJobs("exec")
    val execS = phaseS("exec")
    val byFile = build.groupBy(j => if (BuildFiles.contains(j.file)) j.file else "other")
      .map { case (f, js) => s"build.jobs.$f" -> js.size.toDouble }
    def file(f: String) = roundJobs.filter(_.file == f)
    val accounted = phaseS("build") + phaseS("plan") + execS
    byFile ++ Map(
      "build.s" -> phaseS("build"),
      "build.jobs" -> build.size.toDouble,
      "plan.s" -> phaseS("plan"),
      "exec.s" -> execS,
      "exec.jobs" -> exec.size.toDouble,
      "exec.stages" -> exec.map(_.stagesRun).sum.toDouble,
      "exec.tasks" -> exec.map(_.tasks).sum.toDouble,
      "exec.task_cpu_s" -> exec.map(_.cpuNs).sum / 1e9,
      "exec.core_busy_ratio" ->
        (if (execS > 0) exec.map(_.runMs).sum / 1e3 / (cores * execS) else 0.0),
      "exec.shuffle_write_bytes" -> exec.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> exec.map(_.spill).sum.toDouble,
      "exec.input_rows" -> exec.map(_.inputRows).sum.toDouble,
      "tables.schema_jobs" -> file("Tables.scala").size.toDouble,
      "tables.schema_s" -> file("Tables.scala").map(_.seconds).sum,
      "memo.checkpoint_jobs" -> file("Memo.scala").size.toDouble,
      "memo.checkpoint_s" -> file("Memo.scala").map(_.seconds).sum,
      "trace.unaccounted_s" -> (r.wallS - accounted))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case other => str(String.valueOf(other))
  }

  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
