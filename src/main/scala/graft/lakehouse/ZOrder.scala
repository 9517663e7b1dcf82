package graft.lakehouse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SearchSortedDouble

/** Z-order (Morton) data layout: cluster a table on MULTIPLE columns at
  * once so file-level min/max stats prune scans filtered on ANY of them —
  * Delta's `OPTIMIZE ZORDER BY` / Iceberg's sort-rewrite with a zorder
  * sort order, for plain parquet tables here.
  *
  * Recipe (the Delta one, all map-only after a one-off sketch):
  *  1. `approxQuantile` computes 2^bits-1 boundary values per column — a
  *     distributed quantile sketch, driver holds only the tiny boundary
  *     arrays (rank-based, so skew/outliers can't collapse the curve);
  *  2. each row's per-column bucket = compiled binary search against the
  *     literal boundaries ([[graft.functions.SearchSortedDouble]] — no
  *     window, no shuffle, unlike an `ntile` rank which would funnel the
  *     table through one partition);
  *  3. bucket bits interleave into a Morton key (plain bitwise Column
  *     math), and the rewrite range-partitions + sorts on it — contiguous
  *     curve segments per file.
  *
  * The maintenance op is a rewrite; at scale run it per partition
  * directory like [[Compaction]].
  *
  * Locality property (asserted in IoSpec): after z-ordering on (a, b),
  * each output file covers a small span of BOTH columns, so a predicate on
  * either prunes most files; a single-column sort gives this for one
  * column only.
  */
object ZOrder {

  /** Morton key from per-column bucket ids (each in [0, 2^bits)): bit i of
    * column c lands at position i*nCols + c. Codegen'd bitwise math. */
  def interleave(buckets: Seq[Column], bits: Int): Column = {
    val nCols = buckets.length
    // Java shifts are mod 64: a position >= 64 would silently wrap and
    // corrupt the key (wrong clustering, no error) — refuse instead
    require(bits * nCols <= 63,
      s"z-order key needs bits*columns <= 63 (got $bits*$nCols); " +
        "reduce bits as column count grows")
    val terms = for {
      (b, c) <- buckets.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftrightunsigned(b.cast("long"), i).bitwiseAND(lit(1L)),
      i * nCols + c)
    terms.reduce(_.bitwiseOR(_))
  }

  /** The Morton key for numeric columns of `df`, bucketed against
    * approx-quantile boundaries (one sketch pass per call). */
  def zkey(df: DataFrame, cols: Seq[String], bits: Int = 8,
           relativeError: Double = 0.001): Column = {
    // auto-shrink per-column bits so the interleaved key fits in 63 bits
    // (8 columns at the default 8 bits would otherwise overflow)
    val fitted = math.max(1, math.min(bits, 63 / math.max(1, cols.length)))
    val probs = (1 until (1 << fitted)).map(_.toDouble / (1 << fitted)).toArray
    val buckets = cols.map { name =>
      val bounds = df.stat.approxQuantile(name, probs, relativeError)
      SearchSortedDouble.searchSorted(col(name).cast("double"), bounds)
    }
    interleave(buckets, fitted)
  }

  /** Rewrite `df` into `nFiles` z-ordered partitions: range-partition on
    * the Morton key (contiguous curve segments per file), sorted within. */
  def zorderBy(df: DataFrame, cols: Seq[String], nFiles: Int,
               bits: Int = 8): DataFrame =
    df.withColumn("__zkey", zkey(df, cols, bits))
      .repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")

  /** In-place z-order rewrite of a parquet table path — the maintenance-job
    * form (Delta's `OPTIMIZE ... ZORDER BY`): output file count sized from
    * the actual bytes like [[Compaction.compact]], published via the same
    * crash-safe temp-dir swap. */
  def rewrite(spark: org.apache.spark.sql.SparkSession, dir: String,
              cols: Seq[String],
              targetFileBytes: Long = 128L * 1024 * 1024,
              bits: Int = 8): Compaction.CompactionResult = {
    require(cols.nonEmpty, "z-order rewrite needs at least one column")
    Compaction.restoreSwapped(spark, dir)
    val (bytes, nFiles) = Compaction.plannedFiles(spark, dir, targetFileBytes)
    val before = Compaction.parquetFileCount(spark, dir)
    Compaction.swapRewrite(spark, dir) { tmp =>
      val df = spark.read.parquet(dir)
      zorderBy(df, cols, nFiles, bits).write.mode("overwrite").parquet(tmp)
    }
    Compaction.CompactionResult(before, Compaction.parquetFileCount(spark, dir), bytes)
  }
}
