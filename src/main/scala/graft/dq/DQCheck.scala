package graft.dq

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-quality check ADT.
  *
  * Mirrors the reference's check surface (`/root/reference/src/main/scala/com/
  * lakehouse/ingestion/dq/checks/` — NotNullCheck, RangeCheck,
  * RegexCheck, UniqueKeyCheck, RowCountCheck) but compiled very differently:
  * the reference runs ≥2 full scans per check (`NotNullCheck.scala:35-37` does
  * `df.count()` + `df.filter(...).count()`); here every check contributes an
  * aggregate expression to ONE `df.agg(...)` pass (see [[DQPlan]]) — k checks,
  * one scan, one job, at any scale.
  *
  * Checks that are row-expressible also expose a violation predicate, which
  * powers [[Quarantine]] row splitting (the reference left quarantine as a
  * TODO, `core/IngestionJob.scala:110-113`).
  */
sealed trait DQCheck {
  /** Stable name; doubles as the metric column in the aggregate row. */
  def name: String

  /** Aggregate expression (aliased to `name`) computed in the single pass. */
  def aggExpr: Column

  /** Row-level "this row violates" predicate, when expressible. */
  def rowPredicate: Option[Column]

  /** Given the metric value for `name`, how many violations it represents. */
  def violations(metric: Any, rowCount: Long): Long = metric match {
    case null      => 0L
    case l: Long   => l
    case i: Int    => i.toLong
    case other     => other.toString.toLong
  }

  /** Whether the violation count is acceptable (checks with tolerance
    * thresholds override; default is zero-tolerance). */
  def passes(violations: Long, rowCount: Long): Boolean = violations == 0L
}

/** A check whose violations are the rows `pred` flags: its metric counts
  * them in the single DQ pass, and [[Quarantine]] splits on the same
  * predicate. */
sealed trait RowCheck extends DQCheck {
  /** "This row violates." */
  protected def pred: Column
  final def aggExpr: Column =
    coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L)).cast("long").as(name)
  final def rowPredicate: Option[Column] = Some(pred)
}

/** Count of nulls in `column` must be 0 (or below `maxNullFraction`). */
final case class NotNullCheck(column: String, maxNullFraction: Double = 0.0)
    extends RowCheck {
  val name = s"notnull_$column"
  protected def pred = col(column).isNull
  /** Tolerates up to `maxNullFraction` of rows being null. */
  override def passes(violations: Long, rowCount: Long): Boolean =
    if (rowCount <= 0L) violations == 0L
    else violations.toDouble / rowCount.toDouble <= maxNullFraction
}

/** Non-null values of `column` must fall inside [min, max]. */
final case class RangeCheck(column: String, min: Option[Double],
                            max: Option[Double]) extends RowCheck {
  require(min.isDefined || max.isDefined, "RangeCheck needs a bound")
  val name = s"range_$column"
  protected def pred: Column = {
    val below = min.map(m => col(column) < lit(m))
    val above = max.map(m => col(column) > lit(m))
    val out = (below, above) match {
      case (Some(b), Some(a)) => b || a
      case (Some(b), None)    => b
      case (None, Some(a))    => a
      case _                  => lit(false)
    }
    col(column).isNotNull && out
  }
}

/** Non-null values of `column` must match `pattern` (Java regex). */
final case class RegexCheck(column: String, pattern: String) extends RowCheck {
  val name = s"regex_$column"
  protected def pred = col(column).isNotNull && !col(column).rlike(pattern)
}

/** Non-null values of `column` must be in `allowed`. */
final case class AllowedValuesCheck(column: String, allowed: Seq[String])
    extends RowCheck {
  val name = s"allowed_$column"
  protected def pred =
    col(column).isNotNull && !col(column).isin(allowed.map(lit): _*)
}

/** Free-form SQL predicate describing a VIOLATION (reference: doc example
  * `df.filter("amount <= 0")`, `docs/07-developer-guide.md:294`). */
final case class PredicateCheck(checkName: String, violationSql: String)
    extends RowCheck {
  val name = s"pred_$checkName"
  protected def pred = expr(violationSql)
}

/** Composite key must be unique. `exact=false` switches to HLL
  * (`approx_count_distinct`) for 100 TB-scale runs where an exact distinct
  * shuffle is the bottleneck; violations then become an estimate. */
final case class UniqueKeyCheck(columns: Seq[String], exact: Boolean = true)
    extends DQCheck {
  val name = s"unique_${columns.mkString("_")}"
  private def key = struct(columns.map(col): _*)
  def aggExpr: Column =
    (if (exact) count_distinct(key) else approx_count_distinct(key))
      .cast("long").as(name)
  def rowPredicate: Option[Column] = None
  /** metric = distinct count; violations = duplicate rows. */
  override def violations(metric: Any, rowCount: Long): Long =
    rowCount - super.violations(metric, rowCount)
}

/** Binary media payloads must actually decode as their declared
  * container (REAL JDK codec probe per row —
  * [[graft.functions.DecodableMedia]]): the "≥99% of payloads decode"
  * gate a training-data pipeline puts in front of its decode chain.
  * Tolerates up to `1 − minDecodableFraction` undecodable rows; row
  * predicate quarantines exactly the payloads the codecs reject (null
  * payloads/types count as undecodable — nothing to decode). Like every
  * check, contributes ONE aggregate expression to the single DQ pass;
  * the probe is the only stage that touches the payload bytes. */
final case class MediaDecodableCheck(payloadColumn: String,
                                     mediaTypeColumn: String,
                                     minDecodableFraction: Double = 1.0)
    extends RowCheck {
  val name = s"media_$payloadColumn"
  protected def pred = !coalesce(
    graft.functions.DecodableMedia.decodableMedia(
      col(payloadColumn), col(mediaTypeColumn)), lit(false))
  override def passes(violations: Long, rowCount: Long): Boolean =
    if (rowCount <= 0L) violations == 0L
    else violations.toDouble / rowCount.toDouble <= 1.0 - minDecodableFraction
}

/** Total row count must be >= minRows. */
final case class RowCountCheck(minRows: Long) extends DQCheck {
  val name = "row_count_min"
  def aggExpr: Column = count(lit(1)).as(name)
  def rowPredicate: Option[Column] = None
  /** metric = row count; violation iff below floor (reported as 1). */
  override def violations(metric: Any, rowCount: Long): Long =
    if (super.violations(metric, rowCount) < minRows) 1L else 0L
}
