package graft.lakehouse

import java.sql.Date
import java.time.LocalDate

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `retention_days` enforcement: the reference's schema registry declares a
  * per-field retention period (`/root/reference/schemas/README.md:132`,
  * `"retention_days": 2555`) but ships no operation that applies it. This
  * is that operation — an age-based filter over an event-time column, as
  *
  *  1. a predicate ([[currentRows]]) for read-side enforcement — a plain
  *     comparison against a literal cutoff, so when the table is
  *     partitioned by the time column it becomes a PARTITION filter and
  *     expired partitions are never opened (asserted in IoSpec); and
  *  2. a table maintenance rewrite ([[enforce]]) published through
  *     [[Compaction.swapRewrite]]'s sibling-rewrite swap, so a crash never
  *     leaves the table half-expired. At cluster scale run it per
  *     partition directory: expired partitions DELETE wholesale without
  *     reading a row; only the boundary partition rewrites.
  *
  * The cutoff comes from the schema metadata ([[retentionDays]]) or an
  * explicit override; `asOf` is injectable so runs are reproducible (and
  * testable) rather than wall-clock-dependent.
  */
object Retention {

  final case class RetentionResult(rowsBefore: Long, rowsAfter: Long,
                                   cutoff: Date)

  /** The declared `retention_days` for `column` in the registry schema's
    * field metadata, if any. */
  def retentionDays(schema: StructType, column: String): Option[Long] =
    schema.fields.find(_.name.equalsIgnoreCase(column)).flatMap { f =>
      if (!f.metadata.contains("retention_days")) None
      else Try(f.metadata.getLong("retention_days")).toOption
        .orElse(Try(f.metadata.getDouble("retention_days").toLong).toOption)
    }

  def cutoffFor(asOf: LocalDate, days: Long): Date =
    Date.valueOf(asOf.minusDays(days))

  /** Rows still inside the retention window: `timeCol >= asOf - days`.
    * A literal-vs-column comparison — pushes to the scan, prunes
    * partitions when `timeCol` is the partition column. */
  def currentRows(df: DataFrame, timeCol: String, days: Long,
                  asOf: LocalDate = LocalDate.now()): DataFrame =
    df.filter(col(timeCol) >= lit(cutoffFor(asOf, days)))

  /** Metadata-driven spelling: cutoff from the schema's `retention_days`
    * on `timeCol`. No declared retention -> no-op (the table keeps all). */
  def currentRowsBySchema(df: DataFrame, schema: StructType, timeCol: String,
                          asOf: LocalDate = LocalDate.now()): DataFrame =
    retentionDays(schema, timeCol)
      .map(d => currentRows(df, timeCol, d, asOf)).getOrElse(df)

  /** In-place enforcement for a parquet table path: rewrite surviving rows
    * to a sibling dir and publish them through [[Compaction.swapRewrite]].
    * Preserves the table's partition layout when `partitionCols` is
    * passed. */
  def enforce(spark: SparkSession, dir: String, timeCol: String, days: Long,
              asOf: LocalDate = LocalDate.now(),
              partitionCols: Seq[String] = Seq.empty): RetentionResult = {
    import org.apache.hadoop.fs.Path
    Compaction.restoreSwapped(spark, dir)
    val p = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val table = spark.read.parquet(dir)
    // before-count from the existing files' parquet FOOTERS — metadata
    // bytes only, no Spark job, no data read
    val before = footerRowCount(fs, p, conf)
    // after-count observed DURING the rewrite: the metrics node sits
    // ABOVE the retention filter, so the cutoff predicate still pushes
    // to the scan and the count costs nothing extra
    val obs = org.apache.spark.sql.Observation()
    val kept = currentRows(table, timeCol, days, asOf)
      .observe(obs, count(lit(1)).as("n_kept"))
    Compaction.swapRewrite(spark, dir) { tmp =>
      val writer = kept.write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(tmp)
    }
    RetentionResult(before, obs.get("n_kept").asInstanceOf[Long],
      cutoffFor(asOf, days))
  }

  /** Total row count of every `.parquet` file under `dir` (recursive),
    * summed from file footers — metadata-only, no executor involved. A
    * driver-side loop is fine for a maintenance op; table formats with a
    * manifest (Delta/Iceberg) answer this from their log instead. */
  private def footerRowCount(fs: org.apache.hadoop.fs.FileSystem,
                             dir: org.apache.hadoop.fs.Path,
                             conf: org.apache.hadoop.conf.Configuration): Long = {
    val it = fs.listFiles(dir, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(conf, f.getPath)
        try n += r.getRecordCount finally r.close()
      }
    }
    n
  }

  /** The cluster-scale spelling for a table PARTITIONED BY its governing
    * time column: expired `col=value` partition directories delete
    * WHOLESALE — no row is ever read or rewritten; the boundary partition
    * (if any) is exactly on the cutoff and is kept. Returns the partition
    * names that were removed. Unparseable partition values are kept
    * (never delete what can't be proven expired). */
  def enforcePartitioned(spark: SparkSession, dir: String, partitionCol: String,
                         days: Long,
                         asOf: LocalDate = LocalDate.now()): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = asOf.minusDays(days)
    val prefix = s"$partitionCol="
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap { s =>
        val name = s.getPath.getName
        val value = name.stripPrefix(prefix)
        val expired = Try(LocalDate.parse(value)).toOption.exists(_.isBefore(cutoff))
        if (expired && fs.delete(s.getPath, true)) Some(name) else None
      }
  }
}
