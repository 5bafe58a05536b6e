package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference ETL pipeline end-to-end (ETL_DAG.py §3.1 lifecycle):
  * read → rename → resolve COUNTRY → quality gate → truncate-equivalent
  * overwrite writes in FK-safe order (dims before fact, ETL_DAG.py:227-229).
  *
  * Spark shape: one scan per source. Every table's rule counters and row
  * count ride its own staging write (`Quality.observed`), so the gate
  * costs no pass of its own and no table is read back. All three tables
  * are staged before any is promoted: a violation anywhere publishes
  * nothing, which is the reference's validate-all-then-load order
  * (ETL_DAG.py:90-142 before :211-229). "Truncate then bulk insert"
  * (ETL_DAG.py:211-225) is the staging-to-published swap. Row counts
  * are returned like the reference's success-flag + nrows check.
  */
object LoadJob {

  /** D4: structured step logging like the reference's module logger
    * (ETL_DAG.py:18-24) — info per stage, error+rethrow per failure. */
  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** Email regex exactly as the reference (ETL_DAG.py:115-116); null
    * emails fail (na=False) via the gate's violation semantics. */
  val emailRegex = "^[\\w.-]+@[\\w.-]+\\.\\w+$"

  def salesChecks: Seq[Check] = Seq(
    Check("amount_positive", col("AMOUNT") > 0,
      "AMOUNT must be positive"),                              // P5
    // try_to_date, not to_date: Spark 4 runs ANSI mode by default, where
    // to_date THROWS on malformed input; the reference needs pandas
    // errors='coerce' null-on-failure semantics (ETL_DAG.py:102).
    Check("date_parseable", try_to_date(col("TRANSACTION_DATE")).isNotNull,
      "TRANSACTION_DATE must be a parseable date"))            // P6

  def productChecks: Seq[Check] = Seq(
    Check("price_non_negative", col("PRICE") >= 0,
      "PRICE must be non-negative"))                           // P7

  def customerChecks: Seq[Check] = Seq(
    Check("email_format", col("EMAIL").rlike(emailRegex),
      "EMAIL must match the email pattern"),                   // P8
    Check("country_resolved", col("alpha3").isNotNull,
      "COUNTRY could not be resolved to ISO alpha-3"))         // P11

  final case class Result(table: String, rows: Long)

  /** Run the full pipeline from three CSV paths into `outDir` parquet.
    * Fails with ConfigError / ValidationError / LoadError like the
    * reference's typed error taxonomy (ETL_DAG.py:231-239). On any
    * staging failure no table is published and no staging dir is left.
    * Promotion is one filesystem swap per table, dims before fact; if a
    * swap itself fails, the tables promoted before it stay published. */
  def run(spark: SparkSession, salesCsv: String, productsCsv: String,
          customersCsv: String, outDir: String): Seq[Result] = {
    log.info("validating source files")
    Ingest.requireFiles(spark, Seq(salesCsv, productsCsv, customersCsv))

    val sales = Ingest.rename(
      Ingest.readCsv(spark, salesCsv, Ingest.salesSchema), Ingest.salesRenames)
    val products = Ingest.rename(
      Ingest.readCsv(spark, productsCsv, Ingest.productsSchema), Ingest.productsRenames)
    val customers0 = Ingest.rename(
      Ingest.readCsv(spark, customersCsv, Ingest.customersSchema), Ingest.customersRenames)

    // F1: broadcast-dim country resolution; unresolved stays null and the
    // gate reports it (ETL_DAG.py:193-199).
    val customers = CountryDim.resolve(customers0, "COUNTRY", CountryDim.dim(spark))
      .withColumn("COUNTRY", col("alpha3"))

    // P4: required columns.
    Quality.requireColumns(sales, Ingest.salesRenames.values.toSeq)
    Quality.requireColumns(products, Ingest.productsRenames.values.toSeq)
    Quality.requireColumns(customers0, Ingest.customersRenames.values.toSeq)

    // P5-P11 ride the staging writes, in the gate order sales, products,
    // customers, so the first failing table is the one named. Each table
    // is observed before its reshape: the checks read the source columns.
    val staged = Seq[(String, DataFrame, Seq[Check], String, DataFrame => DataFrame)](
      ("sales", sales, salesChecks, "fact_table",
        _.withColumn("TRANSACTION_DATE", try_to_date(col("TRANSACTION_DATE")))),
      ("products", products, productChecks, "products", identity),
      ("customers", customers, customerChecks, "customers", _.drop("alpha3")))
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val rows = staged.map { case (table, df, checks, name, shape) =>
        name -> stage(fs, df, checks, s"$outDir/$name", table)(shape)
      }.toMap
      // S6-S8: promote dims before fact.
      Seq("products", "customers", "fact_table").map { name =>
        promote(fs, s"$outDir/$name", name)
        log.info(s"loaded $name: ${rows(name)} rows")
        Result(name, rows(name))
      }
    } catch {
      case e: Exception =>
        staged.foreach { case (_, _, _, name, _) =>
          try fs.delete(stagingOf(s"$outDir/$name"), true)
          catch { case c: Exception => e.addSuppressed(c) }
        }
        throw e
    }
  }

  /** Stage-then-promote write with a zero-extra-pass quality gate: the
    * rule counters ride the write action itself (`Quality.observed`),
    * the output lands in `<path>.staging`, and only if every rule passes
    * is it promoted to `path` with a filesystem rename. One scan total,
    * with no validation pass before the write and no read-back after it.
    * On violation the staging dir is removed and the published path is
    * never touched. */
  def writeValidated(df: DataFrame, checks: Seq[Check], path: String,
                     table: String): Result = {
    val fs = new Path(path).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val rows = stage(fs, df, checks, path, table)(identity)
    promote(fs, path, table)
    log.info(s"loaded $table (observed gate): $rows rows")
    Result(table, rows)
  }

  private def stagingOf(path: String) = new Path(path + ".staging")

  /** Write `shape(df)` to `<path>.staging` with `checks` observed on `df`
    * during that write; return the observed row count. A violation
    * raises the gate's ValidationError, any other failure a LoadError,
    * and either way the staging dir is removed first. */
  private def stage(fs: FileSystem, df: DataFrame, checks: Seq[Check], path: String,
                    table: String)(shape: DataFrame => DataFrame): Long = {
    val staging = stagingOf(path)
    val (instrumented, obs) = Quality.observed(df, checks, table)
    try {
      shape(instrumented).write.mode("overwrite").parquet(staging.toString)
      // row count rides the same observation — no read-back job
      Quality.assertObserved(obs, checks, table)
    } catch {
      case e: Exception =>
        try fs.delete(staging, true)
        catch { case c: Exception => e.addSuppressed(c) }
        e match {
          case v: ValidationError => throw v
          case _ =>
            log.error(s"failed staging $table", e)
            throw new LoadError(s"failed staging $table", e)
        }
    }
  }

  /** Publish `<path>.staging` at `path`. Swap, never delete-then-rename:
    * the published path stays readable until the new data is in place,
    * so a crash mid-promote leaves either the old or the new table,
    * never neither. */
  private def promote(fs: FileSystem, path: String, table: String): Unit = {
    val dest = new Path(path)
    val retired = new Path(path + ".old")
    fs.delete(retired, true)
    val hadOld = fs.exists(dest)
    if (hadOld && !fs.rename(dest, retired))
      throw new LoadError(s"could not retire published $table at $dest")
    if (!fs.rename(stagingOf(path), dest)) {
      if (hadOld) fs.rename(retired, dest) // roll back to the old table
      throw new LoadError(s"could not promote $table staging to $dest")
    }
    fs.delete(retired, true)
  }

  /** Catalog twin of [[writeValidated]] — the reference loader's
    * `auto_create_table=True` path (ETL_DAG.py:221): materialize an
    * arbitrary frame as a CATALOG table, creating it from the frame's
    * own schema when absent and replacing it when present. The frame is
    * staged as `<name>__staging` and promoted with catalog renames
    * (retire old → promote staging → drop retired), so a reader of the
    * published name always sees either the previous table or the new
    * one, never a partial write — same crash contract as the
    * path-based promote. An optional quality gate rides the staging
    * write via `Quality.observed`: one scan, counters on the write
    * action, and a violation leaves the published table untouched. */
  def saveAsCatalogTable(df: DataFrame, name: String,
                         checks: Seq[Check] = Nil): Result = {
    val spark = df.sparkSession
    val staging = name + "__staging"
    val retired = name + "__old"
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    spark.sql(s"DROP TABLE IF EXISTS $retired")
    val (instrumented, obs) = Quality.observed(df, checks, name)
    val rows =
      try {
        instrumented.write.mode("overwrite").saveAsTable(staging)
        Quality.assertObserved(obs, checks, name)
      } catch {
        case e: Exception =>
          try spark.sql(s"DROP TABLE IF EXISTS $staging")
          catch { case c: Exception => e.addSuppressed(c) }
          e match {
            case v: ValidationError => throw v
            case _ => throw new LoadError(s"failed staging catalog table $name", e)
          }
      }
    val hadOld = spark.catalog.tableExists(name)
    if (hadOld) spark.sql(s"ALTER TABLE $name RENAME TO $retired")
    try spark.sql(s"ALTER TABLE $staging RENAME TO $name")
    catch {
      case e: Exception =>
        if (hadOld) spark.sql(s"ALTER TABLE $retired RENAME TO $name")
        throw new LoadError(s"could not promote staging table for $name", e)
    }
    spark.sql(s"DROP TABLE IF EXISTS $retired")
    log.info(s"saved catalog table $name: $rows rows")
    Result(name, rows)
  }
}
