package graft.etl

import org.apache.hadoop.fs.{Path, UnsupportedFileSystemException}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-pinned ingestion (reference S1-S4 + P1-P3).
  *
  * The reference reads CSVs with inferred dtypes (ETL_DAG.py:162-164) and
  * renames source CamelCase headers to canonical SNAKE_UPPER
  * (ETL_DAG.py:167-187). CSV inference is nondeterministic at scale, so
  * here every source carries an explicit StructType
  * (`spark.read.schema(...)`) — SURVEY.md §1.3.
  */
object Ingest {

  /** Reference canonical schemas (sql_definitions.sql:158-190); money is
    * DECIMAL(10,2), never double. */
  val salesSchema: StructType = StructType(Seq(
    StructField("TransactionID", IntegerType, nullable = false),
    StructField("Date", StringType, nullable = true), // parsed downstream, coerce-to-null
    StructField("CustomerID", IntegerType, nullable = false),
    StructField("ProductID", IntegerType, nullable = false),
    StructField("Amount", DecimalType(10, 2), nullable = false)))

  val productsSchema: StructType = StructType(Seq(
    StructField("ProductID", IntegerType, nullable = false),
    StructField("ProductName", StringType, nullable = false),
    StructField("Category", StringType, nullable = true),
    StructField("Price", DecimalType(10, 2), nullable = false)))

  val customersSchema: StructType = StructType(Seq(
    StructField("CustomerID", IntegerType, nullable = false),
    StructField("Name", StringType, nullable = false),
    StructField("Email", StringType, nullable = true),
    StructField("Country", StringType, nullable = true)))

  /** Source-header → canonical rename maps (ETL_DAG.py:167-187). */
  val salesRenames: Map[String, String] = Map(
    "TransactionID" -> "TRANSACTION_ID", "Date" -> "TRANSACTION_DATE",
    "CustomerID" -> "CUSTOMER_ID", "ProductID" -> "PRODUCT_ID",
    "Amount" -> "AMOUNT")
  val productsRenames: Map[String, String] = Map(
    "ProductID" -> "PRODUCT_ID", "ProductName" -> "PRODUCT_NAME",
    "Category" -> "CATEGORY", "Price" -> "PRICE")
  val customersRenames: Map[String, String] = Map(
    "CustomerID" -> "CUSTOMER_ID", "Name" -> "NAME",
    "Email" -> "EMAIL", "Country" -> "COUNTRY")

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON-lines twin of readCsv: same schema-pinned discipline (no
    * inference pass over the data), one object per line — the common
    * interchange format for document corpora. Unparseable lines follow
    * the same coerce-to-null PERMISSIVE semantics as the date parse
    * (P6), surfaced via the standard `_corrupt_record` column when the
    * schema asks for it. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC twin: same columnar pushdown/pruning properties as parquet
    * (predicate pushdown, column projection, stripe-level statistics),
    * so the scan-side scale design carries over unchanged. Schema is
    * still pinned — ORC self-describes, but pinning keeps reader
    * output stable if a writer evolves the file schema. */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def rename(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.withColumnsRenamed(renames)

  /** S4: fail fast naming every missing file (ETL_DAG.py:60-68). Paths
    * resolve through the session's Hadoop FileSystem, so plain paths and
    * URIs (`file://`, `hdfs://`, `s3a://`) are checked where Spark will
    * read them; a scheme with no FileSystem counts as missing. */
  def requireFiles(spark: SparkSession, paths: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val missing = paths.filterNot { p =>
      val path = new Path(p)
      try path.getFileSystem(conf).exists(path)
      catch { case _: UnsupportedFileSystemException => false }
    }
    if (missing.nonEmpty)
      throw new ConfigError(s"source file(s) not found: ${missing.mkString(", ")}")
  }

  /** S3: assert required config keys present, listing every missing one
    * (ETL_DAG.py:44-58). */
  def requireConfig(env: Map[String, String], required: Seq[String]): Unit = {
    val missing = required.filterNot(env.contains)
    if (missing.nonEmpty)
      throw new ConfigError(s"missing required config: ${missing.mkString(", ")}")
  }
}
