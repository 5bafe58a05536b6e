package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Declarative data-quality gate reproducing the reference's validation
  * semantics (ETL_DAG.py:90-142):
  *
  *  - required-column assertion by set difference (P4, ETL_DAG.py:126-128);
  *  - per-rule predicates where a NULL predicate result counts as a
  *    violation — pandas `na=False` semantics (P8, ETL_DAG.py:115-116);
  *  - ALL rule violations are counted and reported in one combined error,
  *    not just the first (P10, ETL_DAG.py:133-140).
  *
  * Scale design: every rule for a table is evaluated in a SINGLE pass —
  * one conditional-count aggregate per rule inside one hash aggregation —
  * so a 100 TB table is scanned once regardless of rule count, with
  * map-side partial aggregation and no shuffle of raw rows (the shuffle
  * carries one row of counters per partition).
  */
final case class Check(name: String, predicate: Column, message: String)

object Quality {

  /** Violation condition: predicate false OR null (na=False semantics). */
  private def violated(c: Check): Column = !coalesce(c.predicate, lit(false))

  /** P4: assert required columns exist; error lists every missing one. */
  def requireColumns(df: DataFrame, required: Seq[String]): Unit = {
    val missing = required.filterNot(df.columns.toSet)
    if (missing.nonEmpty)
      throw new ValidationError(
        s"missing required columns: ${missing.mkString(", ")}")
  }

  /** One row per rule with its violation count — single scan of `df`. */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val counters = checks.map(c =>
      sum(when(violated(c), 1L).otherwise(0L)).cast("long").as(c.name))
    val wide = df.agg(counters.head, counters.tail: _*)
    wide.unpivot(Array.empty[Column], checks.map(c => col(c.name)).toArray,
      "rule", "violations")
  }

  /** Sample of offending rows for a rule (diagnostics, P9/P11). */
  def violations(df: DataFrame, check: Check): DataFrame =
    df.filter(violated(check))

  /** PRIMARY KEY parity: Spark enforces no PKs (SURVEY.md §1.2), so
    * uniqueness is a data-quality rule — one row with the number of key
    * groups that occur more than once. Aggregate-shaped (groupBy keys),
    * so it lives beside `report` rather than inside a per-row Check. */
  def uniquenessReport(df: DataFrame, keys: Seq[String], rule: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .agg(count(lit(1)).as("violations"))
      .select(lit(rule).as("rule"), col("violations"))

  /** Name of the row-count metric `observed` always appends, so callers
    * get the sink's row count from the same action for free. */
  val RowCountMetric = "__rows"

  /** Zero-extra-pass gate: attaches the rule counters to the frame via
    * `Dataset.observe`, so they materialize during the SAME action that
    * consumes it (typically the sink write) — at 100 TB the gate costs
    * no second scan at all, where `gate` pays one validation scan before
    * the load. The trade: rows are already written when a violation
    * surfaces, so this suits the stage-then-promote pattern
    * (`LoadJob.writeValidated`, `LoadJob.run`) where the staged output is
    * only published after `assertObserved` passes. */
  def observed(df: DataFrame, checks: Seq[Check], table: String): (DataFrame, Observation) = {
    val obs = Observation(s"quality_$table")
    val counters = checks.map(c =>
      coalesce(sum(when(violated(c), 1L).otherwise(0L)), lit(0L))
        .cast("long").as(c.name)) :+
      count(lit(1)).as(RowCountMetric)
    (df.observe(obs, counters.head, counters.tail: _*), obs)
  }

  /** Read an `observed` gate's counters (call AFTER the action), raise
    * the same all-rules-at-once ValidationError as `gate`, and return
    * the observed row count on success. */
  def assertObserved(obs: Observation, checks: Seq[Check], table: String): Long = {
    val counts = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    raiseIfFailed(counts, checks, table)
    counts(RowCountMetric)
  }

  /** Shared all-rules-at-once error assembly for `gate`/`assertObserved`. */
  private def raiseIfFailed(counts: Map[String, Long], checks: Seq[Check],
                            table: String): Unit = {
    val failed = checks.filter(c => counts.getOrElse(c.name, 0L) > 0)
    if (failed.nonEmpty) {
      val msgs = failed.map(c =>
        s"[$table] ${c.message}: ${counts(c.name)} invalid rows")
      throw new ValidationError(
        s"validation failed with ${failed.size} rule(s):\n" + msgs.mkString("\n"))
    }
  }

  /** Fail-fast gate: evaluates every rule (one pass), then raises ONE
    * error aggregating all failed rules — reference P10 semantics. */
  def gate(df: DataFrame, checks: Seq[Check], table: String): Unit = {
    if (checks.isEmpty) return
    val counts = report(df, checks).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    raiseIfFailed(counts, checks, table)
  }
}

/** Typed error taxonomy mirroring the reference's failure classes
  * (ETL_DAG.py:231-239: ParserError / ValueError / generic). */
sealed abstract class EtlError(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)
final class ConfigError(msg: String) extends EtlError(msg)
final class ValidationError(msg: String) extends EtlError(msg)
final class LoadError(msg: String, cause: Throwable = null) extends EtlError(msg, cause)
