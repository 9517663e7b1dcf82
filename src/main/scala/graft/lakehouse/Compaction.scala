package graft.lakehouse

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet table paths — the operational chore
  * behind every streaming/micro-batch sink (each trigger lands a file per
  * partition; a month later the table is millions of tiny files and every
  * scan pays the open/footer cost). Delta/Iceberg ship this as OPTIMIZE /
  * rewrite_data_files; plain parquet tables get the same effect here.
  *
  * Strategy: size the output from the ACTUAL byte size (ceil(bytes /
  * targetFileBytes) files), rewrite to a sibling temp dir, then swap via
  * two renames — the table is never half-compacted in place, and the
  * pre-swap state survives any crash. The rewrite is one repartition
  * shuffle; at cluster scale run it per partition directory instead of
  * whole-table (same primitive, bounded working set).
  */
object Compaction {

  final case class CompactionResult(filesBefore: Int, filesAfter: Int,
                                    bytes: Long)

  def parquetFileCount(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Byte size → output file count against a target file size. */
  private[graft] def plannedFiles(spark: SparkSession, dir: String,
                                  targetFileBytes: Long): (Long, Int) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    (bytes, math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt))
  }

  private val OldSuffix = "__rewrite_old"

  /** Crash-safe in-place rewrite: `write` lands the new layout in a
    * sibling temp dir, then two renames publish it — the table is never
    * half-rewritten in place, and the pre-swap state survives any crash
    * (see [[restoreSwapped]] for the crash between the renames). Shared
    * by [[compact]], [[ZOrder.rewrite]] and [[Retention.enforce]]. */
  private[graft] def swapRewrite(spark: SparkSession, dir: String)
                                (write: String => Unit): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + "__rewrite_tmp")
    val old = new Path(dir + OldSuffix)
    write(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(p, old))
      throw new IllegalStateException(s"rewrite: could not move $p aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // roll back
      throw new IllegalStateException(s"rewrite: could not publish $tmp")
    }
    fs.delete(old, true)
  }

  /** Heal a crash between [[swapRewrite]]'s two renames, which leaves the
    * table only at `<dir>__rewrite_old`: move it back to `<dir>`. Every
    * rewrite calls this before it plans over or reads `<dir>`. */
  private[graft] def restoreSwapped(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(dir + OldSuffix)
    if (!fs.exists(p) && fs.exists(old) && !fs.rename(old, p))
      throw new IllegalStateException(s"rewrite: could not restore $old to $p")
  }

  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): CompactionResult = {
    restoreSwapped(spark, dir)
    val (bytes, nFiles) = plannedFiles(spark, dir, targetFileBytes)
    val before = parquetFileCount(spark, dir)
    swapRewrite(spark, dir) { tmp =>
      spark.read.parquet(dir).repartition(nFiles)
        .write.mode("overwrite").parquet(tmp)
    }
    CompactionResult(before, parquetFileCount(spark, dir), bytes)
  }

  /** Per-partition-directory compaction for a `partitionBy` table layout —
    * the cluster-scale spelling: each `col=value` directory compacts (and
    * swaps) independently, so the working set is one partition, a crash
    * affects at most the partition mid-swap, and partitions can compact on
    * different cadences. `minFiles` skips directories already compact. */
  def compactPartitioned(spark: SparkSession, dir: String,
                         targetFileBytes: Long = 128L * 1024 * 1024,
                         minFiles: Int = 2): Map[String, CompactionResult] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .flatMap { s =>
        val part = s.getPath.getName
        if (parquetFileCount(spark, s.getPath.toString) < minFiles) None
        else Some(part -> compact(spark, s.getPath.toString, targetFileBytes))
      }.toMap
  }
}
