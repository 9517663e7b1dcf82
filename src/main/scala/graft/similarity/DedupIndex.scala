package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent MinHash dedup index — the [[BucketedIndex]] lifecycle
  * around [[MinHashLsh.nearDuplicatesAgainstIndex]] that makes
  * "fingerprint the corpus ONCE" real across runs: build → write → load →
  * dedup a batch → append the batch → dedup the next batch, with the
  * corpus never re-shingled AND never re-shuffled.
  *
  * Tables: `fingerprints` — (idCol, shingle_set), bucketed by the
  * caller's id column (kept in the manifest as `idCol`); `bands` —
  * (idCol, band), bucketed by band; `band_sizes` — (band, n) deltas.
  * Scans of the corpus tables are still O(index) I/O per batch — the
  * index is a few percent of the text it covers — and the cap fold
  * reads only the small band_sizes deltas, never the bands table.
  *
  * LEGACY layout (manifest without `numBuckets`): flat/recursive parquet
  * dirs as written by [[appendAtomic]]'s rename-published batch units —
  * still read by [[load]]/[[dedupBatch]], but without the bucketing
  * guarantee (the corpus side shuffles per batch). The two layouts don't
  * mix on one root: [[appendAtomic]] refuses a bucketed index and
  * [[append]] refuses a legacy one, because a rename-published subdir
  * inside a bucketed table location would corrupt the bucket layout.
  */
object DedupIndex extends BucketedIndex(
    label = "dedup", primaryBase = "fingerprints",
    primaryPrefix = "graft_dedup_fps", bandsPrefix = "graft_dedup_bands",
    bandCols = Seq("band"), primaryDdlField = "fpsDdl", keepsIdCol = true) {

  /** Band constants + bucketed-layout metadata, persisted as
    * `<path>/index.json` (see [[BucketedIndex.Layout]]). Legacy manifests
    * (pre-r11) lack the layout fields beyond `numBuckets` — `idCol`/DDLs
    * fall back to a footer read, `version` to 0 (the unsuffixed dirs). */
  final case class Manifest(shingleN: Int, bands: Int, rowsPerBand: Int,
                            numBuckets: Int = 0, version: Int = 0,
                            idCol: String = "", fpsDdl: String = "",
                            bandsDdl: String = "", epoch: Int = 0)
      extends BucketedIndex.Manifest {
    def primaryDdl: String = fpsDdl
  }
  type M = Manifest

  protected def constants(m: Manifest): Seq[(String, Long)] = Seq(
    "shingleN" -> m.shingleN, "bands" -> m.bands,
    "rowsPerBand" -> m.rowsPerBand)
  protected def manifestOf(c: String => Long,
                           l: BucketedIndex.Layout): Manifest =
    Manifest(c("shingleN").toInt, c("bands").toInt, c("rowsPerBand").toInt,
      l.numBuckets, l.version, l.idCol, l.primaryDdl, l.bandsDdl, l.epoch)
  protected def primaryRows(docs: DataFrame, idCol: String, textCol: String,
                            m: Manifest): DataFrame =
    MinHashLsh.fingerprints(docs, idCol, textCol, m.shingleN)
  protected def bandRows(fps: DataFrame, m: Manifest): DataFrame =
    MinHashLsh.bandIndex(fps, fps.columns.head, m.bands, m.rowsPerBand)

  /** Fingerprint `docs` and write a fresh bucketed index (overwrites any
    * existing index at `path`). */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
            numBuckets: Int = 8): Unit =
    create(docs, idCol, textCol, path,
      Manifest(shingleN, bands, rowsPerBand, numBuckets))

  /** The legacy layout's readable paths for one table: root-level files
    * (pre-atomic plain appends), rename-published `batch-*` units, and
    * COMMITTED pointer-published `batch-p-*` units — a crashed rename's
    * `.tmp-*` or an uncommitted pointer directory is never read. */
  private def legacyPaths(spark: SparkSession, path: String,
                          table: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = graft.core.AppendCommits.committedKeys(fs, root)
    val paths = graft.core.AppendCommits.readablePaths(fs,
      new org.apache.hadoop.fs.Path(root, table), commits).map(_.toString)
    if (paths.isEmpty) throw new IllegalStateException(
      s"index at $path has no published $table batches")
    paths
  }

  /** Load the two index tables: (fingerprints, bands). Bucketed indexes
    * come back as catalog tables (partitioning-aware); legacy indexes by
    * enumerating published units — [[appendAtomic]] publishes per-batch
    * `batch-<key>` (rename) or committed `batch-p-<key>` (pointer)
    * subdirectories, one read covers every legacy shape. */
  def load(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val m = manifest(spark, path)
    if (m.bucketed) (primaryTable(spark, path, m), bandsTable(spark, path, m))
    else
      (spark.read.parquet(legacyPaths(spark, path, "fingerprints"): _*),
        spark.read.parquet(legacyPaths(spark, path, "bands"): _*))
  }

  /** Stored ids, column-pruned — the anti-join side for idempotent
    * appends; on a bucketed index bucketed by this column, so the
    * anti-join exchanges only the incoming batch. */
  override def indexedIds(spark: SparkSession, path: String): DataFrame =
    if (manifest(spark, path).bucketed) super.indexedIds(spark, path)
    else {
      val df = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$path/fingerprints")
      df.select(col(df.schema.head.name))
    }

  /** True iff [[appendAtomic]] fully published batch `batchKey`: under
    * rename publish, the bands batch directory is renamed LAST, so its
    * presence (plus the manifest) certifies the whole batch; under
    * pointer publish, the `_commits/<key>` file is created last and IS
    * the appliedness. */
  def batchApplied(spark: SparkSession, path: String, batchKey: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val renamed = fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/bands/batch-$batchKey"))
    (renamed || graft.core.AppendCommits.isCommitted(fs, root, batchKey)) &&
      exists(spark, path)
  }

  /** CRASH-ATOMIC batch append on the LEGACY (rename-published) layout:
    * each table gains the batch's rows as one `batch-<key>` directory
    * moved into place with a single rename (bands last, manifest last of
    * all), so appliedness ([[batchApplied]]) travels inside the
    * published unit — a crash at any point leaves a rerun that either
    * completes the batch (deterministic content overwrites any partial
    * unit in place) or skips it; there is no window that double-appends.
    * Creates the index (manifest, without `numBuckets`) on first use.
    * The maintenance-task twin of [[append]]; the tradeoff vs the
    * bucketed layout: rename-unit atomicity, at the cost of per-batch
    * corpus-side shuffles in [[dedupBatch]] (no bucket co-location). */
  def appendAtomic(batch: DataFrame, idCol: String, textCol: String,
                   path: String, batchKey: String,
                   shingleN: Int = 3, bands: Int = 16,
                   rowsPerBand: Int = 4, publish: String = "rename"): Unit = {
    val spark = batch.sparkSession
    val m = if (exists(spark, path)) manifest(spark, path)
            else Manifest(shingleN, bands, rowsPerBand)
    require(!m.bucketed,
      s"index at $path is bucketed; appendAtomic's rename-published batch " +
        "units would corrupt the bucket layout — append via append")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publish match {
      case "rename" =>
        def publishUnit(df: DataFrame, table: String): org.apache.hadoop.fs.Path = {
          val tmp = new org.apache.hadoop.fs.Path(s"$path/$table/.tmp-$batchKey")
          val dest = new org.apache.hadoop.fs.Path(s"$path/$table/batch-$batchKey")
          fs.delete(tmp, true)
          df.write.mode("overwrite").parquet(tmp.toString)
          fs.delete(dest, true) // stale partial unit from a crashed attempt
          if (!fs.rename(tmp, dest)) throw new IllegalStateException(
            s"atomic index publish failed: $tmp -> $dest")
          dest
        }
        val fpsDir = publishUnit(
          MinHashLsh.fingerprints(batch, idCol, textCol, m.shingleN),
          "fingerprints")
        // band keys from the PUBLISHED fingerprints (no re-shingle via lineage)
        val stored = spark.read.parquet(fpsDir.toString)
        publishUnit(MinHashLsh.bandIndex(stored, idCol, m.bands, m.rowsPerBand),
          "bands")
        if (!exists(spark, path)) writeManifest(spark, path, m)
      case "pointer" =>
        // object-store-safe (no rename): data lands under deterministic
        // batch-p-<key> dirs a rerun overwrites IN PLACE, then ONE
        // create-no-overwrite _commits/<key> publishes both tables at
        // once; readers ([[load]]) skip uncommitted pointer dirs, so a
        // torn attempt is never read — see [[graft.core.AppendCommits]]
        val prefix = graft.core.AppendCommits.PointerPrefix
        val fpsDir = s"$path/fingerprints/$prefix$batchKey"
        MinHashLsh.fingerprints(batch, idCol, textCol, m.shingleN)
          .write.mode("overwrite").parquet(fpsDir)
        val stored = spark.read.parquet(fpsDir)
        MinHashLsh.bandIndex(stored, idCol, m.bands, m.rowsPerBand)
          .write.mode("overwrite").parquet(s"$path/bands/$prefix$batchKey")
        if (!exists(spark, path)) writeManifest(spark, path, m)
        graft.core.AppendCommits.commit(fs, root, batchKey)
      case other => throw new IllegalArgumentException(
        s"unknown index publish mode '$other' (rename/pointer)")
    }
  }

  /** Near-duplicates of `batch` against the stored index. Never re-reads
    * or re-shingles the indexed corpus; on a bucketed index the corpus
    * side is never re-SHUFFLED either (only the batch side exchanges to
    * the bucket layout — pinned by PlanSpec) and the cap fold reads the
    * precomputed band_sizes deltas instead of re-counting the bands
    * table. */
  def dedupBatch(spark: SparkSession, path: String, batch: DataFrame,
                 idCol: String, textCol: String, threshold: Double = 0.5,
                 maxBucket: Option[Int] = None): DataFrame = {
    val m = manifest(spark, path)
    val (fps, bands) = load(spark, path)
    val sizes = if (m.bucketed) Some(bandSizes(spark, path, m)) else None
    MinHashLsh.nearDuplicatesAgainstIndex(fps, bands, batch, idCol, textCol,
      m.shingleN, m.bands, m.rowsPerBand, threshold, maxBucket, sizes)
  }
}
