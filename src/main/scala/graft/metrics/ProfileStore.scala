package graft.metrics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** Mergeable (monoid) per-column table profiles — the incremental
  * complement of [[TableMetrics]]' single-batch observation: profile each
  * ingest batch ONCE as it lands, append the tiny per-batch summary to a
  * parquet state dir, and fold summaries whenever a current profile is
  * needed. The 100 TB property: a table ingested over a year is profiled
  * by touching each byte exactly once at ingest time — the fold input is
  * #batches × #columns rows of metadata, never the data again (the
  * [[graft.similarity.BucketedIndex]] lifecycle, for metrics).
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

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType

  /** One aggregate pass over a batch → one profile row per column. */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    val rows = columns.map { c =>
      val dt = df.schema(c).dataType
      val native = col(c)
      df.agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum(when(native.isNull, 1L).otherwise(0L)).cast("long").as("n_null"),
        min(native).cast("string").as("min_s"),
        max(native).cast("string").as("max_s"),
        (if (isIntegral(dt)) sum(native).cast("long")
         else lit(null).cast("long")).as("sum_l"),
        hll_sketch_agg(native.cast("string")).as("hll"))
        .select(lit(c).as("column"), lit(dt.simpleString).as("dtype"),
          col("n_rows"), col("n_null"), col("min_s"), col("max_s"),
          col("sum_l"), col("hll"))
    }
    rows.reduce(_ unionByName _)
  }

  /** Append a batch profile to the state dir (tiny metadata write). */
  def append(df: DataFrame, columns: Seq[String], stateDir: String): Unit =
    profile(df, columns).write.mode("append").parquet(stateDir)

  /** True iff [[appendAtomic]] fully published batch `batchKey`. */
  def batchApplied(spark: SparkSession, stateDir: String,
                   batchKey: String): Boolean =
    graft.core.Commit(spark, stateDir).applied(batchKey)

  /** CRASH-ATOMIC batch append: the profile rows are one
    * [[graft.core.Commit]] keyed unit, visible only once its `_commits`
    * record exists, so no crash window duplicates a batch's rows in the
    * fold. The maintenance-task twin of [[append]]. */
  def appendAtomic(df: DataFrame, columns: Seq[String], stateDir: String,
                   batchKey: String): Unit = {
    val store = graft.core.Commit(df.sparkSession, stateDir)
    store.putBatch("", batchKey)(
      profile(df, columns).write.mode("overwrite").parquet(_))
    store.commitBatch(batchKey)
  }

  /** Fold all stored batch profiles into the current table profile.
    * Monoid fold: one #batches×#columns-row aggregate — the data itself
    * is never re-read. Reads every published unit: [[append]]'s root
    * files and [[appendAtomic]]'s committed units, never a torn one. */
  def current(spark: SparkSession, stateDir: String): DataFrame =
    merge(spark.read.parquet(graft.core.Commit(spark, stateDir).published(): _*))

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

  final case class StoreCompaction(unitsBefore: Int, unitsAfter: Int)

  /** Fold the whole store to ONE on-disk snapshot — the maintenance op
    * the append-only layout needs (every [[append]]/[[appendAtomic]] adds
    * a file/unit per batch FOREVER; [[current]] folds at read time but
    * the per-read listing/footer cost grows without bound). The fold is
    * exactly [[merge]] — every statistic is a commutative monoid, so
    * fold(fold(rows)) == fold(rows) and the snapshot replaces the units
    * it folded without changing any reader's answer.
    *
    * Crash safety: the snapshot (plus the preserved appliedness record)
    * is built in a sibling temp dir and published by the two-rename swap
    * ([[graft.lakehouse.Compaction.swapRewrite]]) — the pre-compaction
    * store survives any crash; a stale temp from a crashed attempt is
    * overwritten, never adopted. APPLIEDNESS IS PRESERVED
    * ([[graft.core.Commit.Store.carryAppliedTo]]), so [[batchApplied]] still
    * reports every folded batch as applied and a maintenance replay can
    * never re-append one. */
  def compact(spark: SparkSession, stateDir: String): StoreCompaction = {
    val store = graft.core.Commit(spark, stateDir)
    val before = store.published().size
    // pin the fold BEFORE the swap moves the source files it reads
    // (#batches × #columns rows — tiny by construction)
    val folded = current(spark, stateDir).localCheckpoint(true)
    graft.lakehouse.Compaction.swapRewrite(spark, stateDir) { tmp =>
      // Overwrite clears any stale junk from a crashed earlier attempt
      folded.coalesce(1).write.mode("overwrite").parquet(tmp)
      store.carryAppliedTo(tmp)
    }
    StoreCompaction(before, store.published().size)
  }
}
