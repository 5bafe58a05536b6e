package graft.etl

import graft.SparkSpec
import java.nio.file.Files

class LoadJobSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-etl").toString

  private def write(dir: String, name: String, lines: Seq[String]): String = {
    val p = s"$dir/$name.csv"
    Files.writeString(java.nio.file.Paths.get(p), lines.mkString("\n"))
    p
  }

  private def cleanInputs(dir: String): (String, String, String) = (
    write(dir, "sales", Seq(
      "TransactionID,Date,CustomerID,ProductID,Amount",
      "1,2024-01-05,10,100,25.50", "2,2024-02-11,11,101,99.99")),
    write(dir, "products", Seq(
      "ProductID,ProductName,Category,Price",
      "100,Widget,Tools,10.00", "101,Gadget,Toys,5.25")),
    write(dir, "customers", Seq(
      "CustomerID,Name,Email,Country",
      "10,Ana,ana@x.com,Germany", "11,Bo,bo@y.org,Untied States")))

  test("full pipeline: read, rename, resolve, gate, FK-ordered overwrite") {
    val dir = tmp()
    val (s, p, c) = cleanInputs(dir)
    val results = LoadJob.run(spark, s, p, c, s"$dir/out")
    assert(results.map(r => r.table -> r.rows) ==
      Seq("products" -> 2L, "customers" -> 2L, "fact_table" -> 2L))
    val cust = spark.read.parquet(s"$dir/out/customers").collect()
    val byName = cust.map(r => r.getAs[String]("NAME") -> r.getAs[String]("COUNTRY")).toMap
    assert(byName == Map("Ana" -> "DEU", "Bo" -> "USA")) // fuzzy tier resolved
    val fact = spark.read.parquet(s"$dir/out/fact_table")
    assert(fact.schema("TRANSACTION_DATE").dataType.typeName == "date")
  }

  test("poisoned inputs raise ONE error naming all failed rules") {
    val dir = tmp()
    val s = write(dir, "sales", Seq(
      "TransactionID,Date,CustomerID,ProductID,Amount",
      "1,not-a-date,10,100,-3.00"))
    val p = write(dir, "products", Seq(
      "ProductID,ProductName,Category,Price", "100,W,T,1.00"))
    val c = write(dir, "customers", Seq(
      "CustomerID,Name,Email,Country", "10,Ana,ana@x.com,Germany"))
    val e = intercept[ValidationError] { LoadJob.run(spark, s, p, c, s"$dir/out") }
    assert(e.getMessage.contains("AMOUNT"))
    assert(e.getMessage.contains("TRANSACTION_DATE"))
  }

  test("unresolvable country is caught by the gate") {
    val dir = tmp()
    val (s, p, _) = cleanInputs(dir)
    val c = write(dir, "customers", Seq(
      "CustomerID,Name,Email,Country", "10,Ana,ana@x.com,Atlantis"))
    val e = intercept[ValidationError] { LoadJob.run(spark, s, p, c, s"$dir/out") }
    assert(e.getMessage.contains("COUNTRY"))
  }

  test("missing file fails fast naming the file") {
    val dir = tmp()
    val (s, p, c) = cleanInputs(dir)
    val e = intercept[ConfigError] {
      LoadJob.run(spark, s, p, s"$dir/nope.csv", s"$dir/out")
    }
    assert(e.getMessage.contains("nope.csv"))
  }

  test("loads from file:// URIs") {
    val dir = tmp()
    val (s, p, c) = cleanInputs(dir)
    val results = LoadJob.run(spark, s"file://$s", s"file://$p", s"file://$c",
      s"file://$dir/out")
    assert(results.map(_.rows) == Seq(2L, 2L, 2L))
    // every missing path is named, including one whose scheme has no FileSystem
    val e = intercept[ConfigError] {
      LoadJob.run(spark, s"file://$s", s"file://$dir/nope.csv",
        "nosuchfs://bucket/gone.csv", s"$dir/out")
    }
    assert(e.getMessage.contains("nope.csv") && e.getMessage.contains("gone.csv"))
  }

  private def published(out: String): Map[String, Set[Int]] =
    Seq("products" -> "PRODUCT_ID", "customers" -> "CUSTOMER_ID",
        "fact_table" -> "TRANSACTION_ID").map { case (t, key) =>
      t -> spark.read.parquet(s"$out/$t").collect().map(_.getAs[Int](key)).toSet
    }.toMap

  private def leftovers(out: String): Seq[String] =
    new java.io.File(out).list().toSeq
      .filter(n => n.endsWith(".staging") || n.endsWith(".old"))

  test("a failing table publishes nothing; a clean re-run replaces every table") {
    val dir = tmp()
    val out = s"$dir/out"
    val (s, p, c) = cleanInputs(dir)
    LoadJob.run(spark, s, p, c, out)
    val first = published(out)
    assert(first == Map("products" -> Set(100, 101), "customers" -> Set(10, 11),
      "fact_table" -> Set(1, 2)))

    // customers is staged last, after sales and products staged cleanly
    val bad = write(dir, "bad_customers", Seq(
      "CustomerID,Name,Email,Country", "12,Cy,cy@z.net,Atlantis"))
    val e = intercept[ValidationError] { LoadJob.run(spark, s, p, bad, out) }
    assert(e.getMessage.contains("COUNTRY"))
    assert(published(out) == first, "a failed load must leave every published table as it was")
    assert(leftovers(out).isEmpty, s"left behind: ${leftovers(out)}")

    val next = Seq(
      write(dir, "sales2", Seq("TransactionID,Date,CustomerID,ProductID,Amount",
        "3,2024-03-01,12,102,1.00")),
      write(dir, "products2", Seq("ProductID,ProductName,Category,Price",
        "102,Gizmo,Tools,2.00")),
      write(dir, "customers2", Seq("CustomerID,Name,Email,Country",
        "12,Cy,cy@z.net,Spain")))
    val results = LoadJob.run(spark, next(0), next(1), next(2), out)
    assert(results.map(_.rows) == Seq(1L, 1L, 1L))
    assert(published(out) == Map("products" -> Set(102), "customers" -> Set(12),
      "fact_table" -> Set(3)))
    assert(leftovers(out).isEmpty, s"left behind: ${leftovers(out)}")
  }

  test("run reads each source once, with no read-back") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val dir = tmp()
    val (s, p, c) = cleanInputs(dir)
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      LoadJob.run(spark, s, p, c, s"$dir/out")
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read.get == 2 + 2 + 2, "sales + products + customers rows, each read once")
  }

  test("missing config keys are all listed") {
    val e = intercept[ConfigError] {
      Ingest.requireConfig(Map("A" -> "1"), Seq("A", "B", "C"))
    }
    assert(e.getMessage.contains("B") && e.getMessage.contains("C"))
  }

  test("saveAsCatalogTable auto-creates, schema round-trips, overwrites") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val name = "graft_catalog_sink_test"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // create-if-absent from the frame's own schema, typed columns incl.
    // decimal money and a date — the auto_create_table contract
    val v1 = Seq((1, "2024-01-02", "12.50"), (2, "2024-02-03", "7.25"))
      .toDF("id", "d", "m")
      .select(col("id"), col("d").cast("date").as("d"),
        col("m").cast("decimal(10,2)").as("m"))
    val r1 = LoadJob.saveAsCatalogTable(v1, name)
    assert(r1.rows == 2 && spark.catalog.tableExists(name))
    val back = spark.table(name)
    // names and types must round-trip exactly; nullability is relaxed
    // by the parquet-backed catalog (standard Spark read semantics)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      v1.schema.map(f => (f.name, f.dataType)),
      "column names/types must round-trip exactly")
    assert(back.count() == 2)
    // overwrite-if-present: the new frame fully replaces the old
    val v2 = Seq((3, "2025-05-06", "1.00")).toDF("id", "d", "m")
      .select(col("id"), col("d").cast("date").as("d"),
        col("m").cast("decimal(10,2)").as("m"))
    assert(LoadJob.saveAsCatalogTable(v2, name).rows == 1)
    assert(spark.table(name).select("id").as[Int].collect().toSeq == Seq(3))
    // a gate violation must leave the published table untouched
    intercept[ValidationError] {
      LoadJob.saveAsCatalogTable(
        v1.withColumn("m", col("m") * -1), name,
        Seq(Check("m_positive", col("m") > 0, "m must be positive")))
    }
    assert(spark.table(name).select("id").as[Int].collect().toSeq == Seq(3),
      "failed gate must not disturb the published table")
    assert(!spark.catalog.tableExists(name + "__staging"),
      "staging must be cleaned up after a failed gate")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }
}
