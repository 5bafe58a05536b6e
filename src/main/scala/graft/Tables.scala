package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver-shipped parquet fixtures (TESTDATA.md).
  *
  * Every query receives `(spark, sfDir)` and loads what it needs through
  * here, so the parquet scans stay lazy and Catalyst can push filters and
  * prune columns into the scan. Each table is read through its declared
  * [[schemas]] entry, so a load runs no Spark job: no footer is read to
  * infer a schema, and the first job a query runs is its own. Temp views
  * are registered on demand so the same queries can also run as
  * `spark.sql` text against the identical table names the DuckDB oracle
  * uses.
  */
object Tables {
  /** A schema of nullable fields, as Spark reads every file source. */
  private[graft] def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** The fixtures' schemas, field for field what Spark infers from the
    * files (TablesSpec compares them at every shipped scale, so a fixture
    * change fails there instead of reading nulls). Every field is
    * nullable, as Spark makes every file-source field; the timestamps are
    * written without UTC adjustment, so they read as TIMESTAMP_NTZ. */
  val schemas: ListMap[String, StructType] = ListMap(
    "region" -> struct("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> struct("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> struct("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> struct("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> struct("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> struct("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> struct("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> struct("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> struct("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> struct("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  val names: Seq[String] = schemas.keys.toSeq

  /** NO loader-level scan widening — tried THREE ways this round and
    * reverted on measurement (OPTIMIZATION_r14.md "lineitem widen
    * calibration"). Every fixture table is one parquet split, so
    * scan-rooted stages run as one task — but anchored against the
    * round-12-close SCALING steady times, the no-widen loader is the
    * fastest shape for the whole lineitem family (23.9 s vs 31.3
    * hash-repartition vs 38.8 round-robin over the 34 fact queries):
    * most consumers are one cheap scan+partial-agg pass where a
    * full-table exchange costs more than the fan-out buys, round-robin
    * additionally pays sortBeforeRepartition's local sort inside the
    * single input task, and hash-by-key defeats column pruning
    * (PlanSpec pins q201). The round-open numbers that motivated the
    * widen (q07 "3.25 s") were cold-box artifacts of the open bench —
    * steady is 1.14 s on the identical code. At production scale a
    * fact scan has many splits and parallelizes natively; operators
    * whose per-row work is genuinely heavy (band generation, the
    * similarity family) widen at their own call sites via
    * Similarity.widen, which stays a no-op at scale. documents/events
    * widening also tried/reverted: their token/property aggregation
    * consumers inflate the map-side combine ~|partitions|×. */
  /** The FilePartition.maxSplitBytes split-count formula for a scan of
    * `bytes0` total input (Similarity.widen's file-scan leaf
    * estimate). */
  private[graft] def splitsForBytes(spark: SparkSession, bytes0: Long): Int = {
    val bytes = bytes0.max(1L)
    val openCost = 4L << 20
    val maxPartition = spark.conf
      .get("spark.sql.files.maxPartitionBytes", s"${128L << 20}") match {
        case s if s.forall(_.isDigit) => s.toLong
        case _ => 128L << 20
      }
    val cores = spark.sparkContext.defaultParallelism.max(1)
    val bytesPerCore = (bytes + openCost) / cores
    val maxSplit = math.min(maxPartition, math.max(openCost, bytesPerCore))
    ((bytes + maxSplit - 1) / maxSplit).toInt
  }

  /** Fixture `name` of `sfDir`, read through its declared schema: lazy,
    * and no Spark job runs until the caller's first action. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")

  /** Register all fixture tables as temp views (names as in TESTDATA.md). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Money arithmetic: the fixtures store money as double, but the
    * reference schema is DECIMAL(10,2) (sql_definitions.sql:164,181) and —
    * more importantly — summing doubles is order-dependent, which would
    * break hash comparison against the DuckDB oracle. Sums are therefore
    * done in exact decimal and only the final result is cast back.
    */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))
}
