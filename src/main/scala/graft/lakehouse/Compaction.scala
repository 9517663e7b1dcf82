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

  /** The (old, tmp) swap siblings of `dir`: `.<name>__rewrite_old` and
    * `.<name>__rewrite_tmp`. Dot-prefixed, so Spark's file listing skips
    * them — a partition dir's siblings sit inside the table root, where
    * partition discovery would otherwise read them as partitions. */
  private def swapSiblings(dir: Path): (Path, Path) = {
    def sibling(suffix: String) =
      new Path(dir.getParent, "." + dir.getName + suffix)
    (sibling("__rewrite_old"), sibling("__rewrite_tmp"))
  }

  /** The visible `<dir>__rewrite_old`/`__rewrite_tmp` siblings earlier
    * releases swapped through; [[restoreSwapped]] still heals them. */
  private def visibleSwapSiblings(dir: Path): (Path, Path) =
    (new Path(dir.toString + "__rewrite_old"),
      new Path(dir.toString + "__rewrite_tmp"))

  /** Crash-safe in-place rewrite: `write` lands the new layout in a
    * sibling temp dir, then two renames publish it — the table is never
    * half-rewritten in place, and the pre-swap state survives any crash
    * (see [[restoreSwapped]], which every caller runs first). Shared
    * by [[compact]], [[ZOrder.rewrite]] and [[Retention.enforce]]. */
  private[graft] def swapRewrite(spark: SparkSession, dir: String)
                                (write: String => Unit): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (old, tmp) = swapSiblings(p)
    write(tmp.toString)
    if (fs.exists(old)) throw new IllegalStateException(
      s"rewrite: $old exists; restore it before rewriting $p")
    if (!fs.rename(p, old))
      throw new IllegalStateException(s"rewrite: could not move $p aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // roll back
      throw new IllegalStateException(s"rewrite: could not publish $tmp")
    }
    fs.delete(old, true)
  }

  /** Heal a crashed [[swapRewrite]] by what its old sibling sits
    * beside. Without `<dir>`, it is the table a crash between the renames
    * moved aside: move it back. Beside `<dir>` with no tmp sibling, the
    * crash came after the publish, so it is superseded: delete it.
    * Beside both, `<dir>` was recreated (say, by an ingest) after a crash
    * between the renames, and neither dir holds the whole table: fail,
    * naming both, and delete nothing. The visible siblings of earlier
    * releases heal the same way, and their tmp is then deleted (no
    * rewrite overwrites it any more). Every rewrite calls this before it
    * plans over or reads `<dir>`. */
  private[graft] def restoreSwapped(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for ((old, tmp) <- Seq(swapSiblings(p), visibleSwapSiblings(p))) {
      if (fs.exists(old)) {
        if (!fs.exists(p)) {
          if (!fs.rename(old, p))
            throw new IllegalStateException(s"rewrite: could not restore $old to $p")
        } else if (!fs.exists(tmp)) fs.delete(old, true)
        else throw new IllegalStateException(s"rewrite: $p was recreated after " +
          s"a crashed rewrite moved its earlier rows to $old; merge the two " +
          "dirs by hand before rewriting")
      }
    }
    fs.delete(visibleSwapSiblings(p)._2, true)
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
    * different cadences. `minFiles` skips directories already compact.
    * Hidden dirs (a partition's swap siblings among them) are not
    * partitions and are skipped, as Spark's partition discovery skips
    * them. */
  def compactPartitioned(spark: SparkSession, dir: String,
                         targetFileBytes: Long = 128L * 1024 * 1024,
                         minFiles: Int = 2): Map[String, CompactionResult] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith("."))
      .flatMap { s =>
        val part = s.getPath.getName
        if (parquetFileCount(spark, s.getPath.toString) < minFiles) None
        else Some(part -> compact(spark, s.getPath.toString, targetFileBytes))
      }.toMap
  }
}
