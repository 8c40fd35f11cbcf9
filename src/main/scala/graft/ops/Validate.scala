package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Row-validation family — SURVEY.md §2.2 P3-P6/P8, §2.5 W1, §2.4 A11.
  *
  * The reference annotates every row with a `; `-joined list of failed
  * rule names in declaration order ("Missing ID; Negative Tenure"),
  * then splits good (empty annotation) from quarantined rows
  * (reference: dags/DataWarehouse.py:626-637, dags/Reprocessing.py:68-109).
  *
  * Implementation: one `concat_ws` over `when(cond, name)` columns —
  * concat_ws skips NULLs, which reproduces the reference's
  * join-then-strip-trailing-"; " behavior exactly, stays fully
  * codegen'd, and costs a single projection (no shuffle). The
  * duplicate-key rule is the only one needing a shuffle (window count
  * partitioned by the key — scales as a hash shuffle on the key, no
  * global ordering).
  */
object Validate {

  final case class Rule(name: String, failsWhen: Column)

  /** Append `error_details` per the reference's annotation semantics. */
  def annotate(df: DataFrame, rules: Seq[Rule]): DataFrame =
    df.withColumn("error_details",
      concat_ws("; ", rules.map(r => when(r.failsWhen, lit(r.name))): _*))

  /** Duplicate-marking condition (reference pandas
    * `duplicated(keep=False)`): true on EVERY copy of a duplicated key.
    * NULL keys are not marked (reference drops NULLs before the dup
    * scan — dags/DataWarehouse.py:632-633). */
  def duplicatedAll(key: Column): Column =
    key.isNotNull && count(lit(1)).over(Window.partitionBy(key)) > 1

  def good(annotated: DataFrame): DataFrame =
    annotated.filter(col("error_details") === "")

  def bad(annotated: DataFrame): DataFrame =
    annotated.filter(col("error_details") =!= "")

  /** One-pass (total, bad) counters over an annotated frame. */
  def counts(annotated: DataFrame): (Long, Long) = {
    val r = annotated.agg(
      count(lit(1)).as("total"),
      count(when(col("error_details") =!= "", 1)).as("bad")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Error-rate circuit breaker (reference: 10% threshold,
    * dags/DataWarehouse.py:456-482), a halt-or-clean gate: an error
    * rate above threshold throws BEFORE any destructive step
    * (reference halt ordering, §7.4). Single-pass aggregate; the only
    * driver-side value is the tiny scalar. */
  def gate(annotated: DataFrame, thresholdPct: Double = 10.0): DataFrame =
    gateCounted(annotated, thresholdPct)._1

  /** [[gate]], also returning THIS batch's bad-row count from the same
    * single aggregate pass. Callers that branch on "did this batch
    * reject anything" need this scalar — inferring it from quarantine
    * directory contents is wrong, because a re-run of a previously
    * rejecting run_date can still see the prior run's partition. */
  def gateCounted(annotated: DataFrame,
                  thresholdPct: Double = 10.0): (DataFrame, Long) = {
    val (total, bad) = counts(annotated)
    val rate = if (total == 0) 0.0 else bad * 100.0 / total
    if (rate > thresholdPct)
      throw new IllegalStateException(
        f"error rate $rate%.2f%% exceeds $thresholdPct%.1f%% — halting before cleanup")
    (good(annotated), bad)
  }

  /** A12: value-check assertion — the reference's SQLValueCheckOperator
    * (dags/DataWarehouse.py:810-819,843-863): a scalar query result
    * must equal `expected` within `tolerance` (fractional, as in
    * Airflow: |actual − expected| ≤ expected·tolerance) or the
    * pipeline fails at that task. `df` must be a 1×1 frame. */
  def valueCheck(df: DataFrame, expected: Double, tolerance: Double = 0.0,
                 name: String = "value check"): Unit = {
    val actual = df.head().get(0) match {
      case n: Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$name: non-numeric check result $other")
    }
    val allowed = math.abs(expected) * tolerance
    if (math.abs(actual - expected) > allowed)
      throw new IllegalStateException(
        s"$name failed: got $actual, expected $expected ± $allowed")
  }

  /** Functional-dependency violation audit: keys of `df` where
    * `key → attr` does NOT hold — i.e. one key maps to more than one
    * distinct attr value (the classic conformed-dimension corruption:
    * one customer id with two countries, one order with two ship
    * dates). Emits (key, n_values, min/max attr as the violation
    * evidence pair). Nulls count as a value: a key mapping to both
    * 'x' and NULL IS a violation, surfaced via the `__null__`
    * sentinel (the Drift convention).
    *
    * Scale shape: dedup-then-count — one map-side-combinable agg on
    * (key, attr), then a key-sized agg with a HAVING; no
    * count(DISTINCT) Expand, no join. Output is violation-sized. */
  def fdViolations(df: DataFrame, key: Column, attr: Column): DataFrame =
    df.select(key.as("fd_key"),
        coalesce(attr.cast("string"), lit("__null__")).as("_attr"))
      .groupBy("fd_key", "_attr").agg(count(lit(1)).as("_n"))
      .groupBy("fd_key")
      .agg(count(lit(1)).as("n_values"),
        min(col("_attr")).as("min_attr"),
        max(col("_attr")).as("max_attr"))
      .filter(col("n_values") > 1)
}
