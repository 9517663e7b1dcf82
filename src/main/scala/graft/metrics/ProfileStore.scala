package graft.metrics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Commit

/** Mergeable (monoid) per-column table profiles — the incremental
  * complement of [[TableMetrics]]' single-batch observation: profile each
  * ingest batch ONCE as it lands and merge the tiny per-batch summary into
  * the stored profile, one [[Commit]] generation per batch (the IVM folds'
  * protocol). The 100 TB property: a table ingested over a year is
  * profiled by touching each byte exactly once at ingest time, and a read
  * is #columns rows of metadata, never the data again.
  *
  * Every statistic kept is a commutative monoid (counts and sums add,
  * min/max fold by least/greatest, HLL sketches union via Spark's
  * DataSketches builtins), so batch profiles merge associatively in any
  * order — the algebraic property that makes incremental maintenance
  * EXACT for counts/sums/min/max, not an approximation. Comparable
  * stats (min/max) fold in the column's native type and are cast to
  * string only for display, so "10" < "9" string traps can't bite.
  *
  * Storage row: (column, dtype, n_rows, n_null, min_s, max_s, sum_l,
  * hll binary). Integral columns carry exact sums; `n_distinct` is a
  * mergeable HLL sketch (estimate surfaced on read).
  */
object ProfileStore {

  private def isIntegral(dt: DataType): Boolean =
    dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType

  /** The storage row, fixed, so a state read starts no inference job. */
  private val RowSchema: StructType = StructType(Seq(
    StructField("column", StringType), StructField("dtype", StringType),
    StructField("n_rows", LongType), StructField("n_null", LongType),
    StructField("min_s", StringType), StructField("max_s", StringType),
    StructField("sum_l", LongType), StructField("hll", BinaryType)))

  /** One aggregate pass over a batch → one profile row per column. */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    val stats = columns.zipWithIndex.flatMap { case (c, i) =>
      val native = col(c)
      Seq(sum(when(native.isNull, 1L).otherwise(0L)).cast("long").as(s"n_null$i"),
        min(native).cast("string").as(s"min_s$i"),
        max(native).cast("string").as(s"max_s$i"),
        (if (isIntegral(df.schema(c).dataType)) sum(native).cast("long")
         else lit(null).cast("long")).as(s"sum_l$i"),
        hll_sketch_agg(native.cast("string")).as(s"hll$i"))
    }
    val rows = columns.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column"), lit(df.schema(c).dataType.simpleString).as("dtype"),
        col("n_rows"), col(s"n_null$i").as("n_null"), col(s"min_s$i").as("min_s"),
        col(s"max_s$i").as("max_s"), col(s"sum_l$i").as("sum_l"),
        col(s"hll$i").as("hll"))
    }
    df.agg(count(lit(1)).cast("long").as("n_rows"), stats: _*)
      .select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Fold the profile of the batch landed at `src` into the store at
    * `stateDir` unless it is already folded there: merge it into the
    * stored rows and publish one [[Commit]] generation. `batch` is only
    * evaluated when the batch is not yet folded. */
  def fold(spark: SparkSession, stateDir: String, src: String,
           columns: Seq[String])(batch: => DataFrame): Unit =
    Commit(spark, stateDir).fold(src, RowSchema, merge) { state =>
      val p = profile(batch, columns)
      // a few rows per column: one partition, so the merge needs no shuffle
      merge(state.fold(p)(_.unionByName(p)).coalesce(1))
    }

  /** The current table profile: the newest generation's #columns rows;
    * fails on a store an older layout wrote until a `profile` fold upgrades it. */
  def current(spark: SparkSession, stateDir: String): DataFrame =
    Commit(spark, stateDir).state(RowSchema).getOrElse(
      throw new IllegalStateException(s"no profile under $stateDir"))

  /** Merge profile rows (from any number of batches) by column. min/max
    * compare in the recorded native type; integral sums add exactly. */
  def merge(profiles: DataFrame): DataFrame = {
    val numeric = col("dtype").isin("bigint", "int", "smallint", "tinyint")
    val floatish = col("dtype").isin("double", "float")
      .or(col("dtype").like("decimal%"))
    // fold comparables in native type: integral columns via long cast;
    // float/double/decimal ordered by their double value but KEEPING the
    // recorded string (a struct min/max orders by the numeric key first,
    // so decimal renderings like "10.50" survive the fold un-rewritten
    // and min("10.5","9.5") can never resolve lexicographically);
    // everything else lexicographically (correct for strings; dates and
    // timestamps rendered ISO-style also order lexicographically). The
    // dtype guard sits INSIDE the aggregate so the casts only ever
    // touch matching rows (ANSI cast of 'de' would throw otherwise);
    // a group is single-dtype, so exactly one branch is non-null.
    def keyed(c: Column) = struct(c.cast("double").as("k"), c.as("s"))
    val minNative = coalesce(
      min(when(numeric, col("min_s").cast("long"))).cast("string"),
      min(when(floatish, keyed(col("min_s")))).getField("s"),
      min(when(!numeric && !floatish, col("min_s"))))
    val maxNative = coalesce(
      max(when(numeric, col("max_s").cast("long"))).cast("string"),
      max(when(floatish, keyed(col("max_s")))).getField("s"),
      max(when(!numeric && !floatish, col("max_s"))))
    profiles.groupBy(col("column"), col("dtype"))
      .agg(sum(col("n_rows")).cast("long").as("n_rows"),
        sum(col("n_null")).cast("long").as("n_null"),
        minNative.as("min_s"),
        maxNative.as("max_s"),
        sum(col("sum_l")).cast("long").as("sum_l"),
        hll_union_agg(col("hll")).as("hll"))
  }

  /** Human/driver-facing view: sketch replaced by its estimate. */
  def summary(merged: DataFrame): DataFrame =
    merged.select(col("column"), col("dtype"), col("n_rows"), col("n_null"),
      col("min_s"), col("max_s"), col("sum_l"),
      hll_sketch_estimate(col("hll")).cast("long").as("n_distinct_approx"))
      .orderBy(col("column"))
}
