package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table-level metric recording (reference declares `Metric.record(df)` with
  * zero implementations, `/root/reference/src/main/scala/com/lakehouse/
  * ingestion/metrics/Metrics.scala:16-50`).
  *
  * A profile is a set of named aggregate expressions evaluated in ONE pass —
  * same single-scan philosophy as [[graft.dq.DQPlan]]. For pipeline use the
  * same expressions can be attached to a write via `df.observe(...)`, making
  * the metrics free (no extra scan); see [[Observed]].
  */
object TableMetrics {

  sealed trait MetricSpec { def name: String; def expr: Column }
  final case class RowCount(name: String = "row_count") extends MetricSpec {
    def expr: Column = count(lit(1)).as(name)
  }
  final case class DistinctCount(column: String, name: String) extends MetricSpec {
    def expr: Column = count_distinct(col(column)).cast("long").as(name)
  }
  final case class NullCount(column: String, name: String) extends MetricSpec {
    def expr: Column =
      coalesce(sum(when(col(column).isNull, 1L).otherwise(0L)), lit(0L))
        .cast("long").as(name)
  }
  final case class MinTsMicros(column: String, name: String) extends MetricSpec {
    def expr: Column = unix_micros(min(col(column))).as(name)
  }
  final case class MaxTsMicros(column: String, name: String) extends MetricSpec {
    def expr: Column = unix_micros(max(col(column))).as(name)
  }
  /** Exact-decimal money sum surfaced as a deterministic double. */
  final case class MoneySum(column: String, name: String) extends MetricSpec {
    def expr: Column = sum(col(column).cast("decimal(18,2)")).cast("double").as(name)
  }

  /** One-row DataFrame of all requested metrics; single scan. */
  def profile(df: DataFrame, specs: Seq[MetricSpec]): DataFrame = {
    require(specs.nonEmpty)
    df.agg(specs.head.expr, specs.tail.map(_.expr): _*)
  }
}

/** Zero-cost metrics via `Dataset.observe` — attach to a write so the
  * aggregates ride along with the job instead of re-scanning (fixes the
  * reference's extra logging `df.count()`,
  * `lakehouse/DeltaLakeWriter.scala:105`). */
object Observed {
  import org.apache.spark.sql.Observation

  /** Returns (observedDF, observation). Call `observation.get` AFTER an
    * action has run on observedDF. */
  def withMetrics(df: DataFrame, specs: Seq[TableMetrics.MetricSpec])
      : (DataFrame, Observation) = {
    val obs = Observation()
    val observed = df.observe(obs, specs.head.expr, specs.tail.map(_.expr): _*)
    (observed, obs)
  }
}
