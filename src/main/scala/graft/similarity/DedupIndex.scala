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
  * The two bucketed tables are read by path with the manifest's bucket
  * spec, so a [[load]] or [[dedupBatch]] sees every append finished
  * before it, from any session. Scans of the corpus tables are still
  * O(index) I/O per batch — the index is a few percent of the text it
  * covers — and the cap fold reads only the small band_sizes deltas,
  * never the bands table.
  *
  * LEGACY layout (manifest without `numBuckets`): flat/recursive parquet
  * dirs as written by [[appendAtomic]]'s per-batch units — still read by
  * [[load]]/[[dedupBatch]], but without the bucketing guarantee (the
  * corpus side shuffles per batch). The two layouts don't mix on one
  * root: [[appendAtomic]] refuses a bucketed index and [[append]] refuses
  * a legacy one, because a per-batch subdir inside a bucketed table
  * location would corrupt the bucket layout.
  */
object DedupIndex extends BucketedIndex(
    label = "dedup", primaryBase = "fingerprints",
    bandCols = Seq("band"), primaryDdlField = "fpsDdl", keepsIdCol = true) {

  /** Band constants + bucketed-layout metadata, persisted as
    * `<path>/index.json` (see [[BucketedIndex.Layout]]). Legacy manifests
    * (pre-r11) lack the layout fields beyond `numBuckets` — `idCol`/DDLs
    * fall back to a footer read, `version` to 0 (the unsuffixed dirs). */
  final case class Manifest(shingleN: Int, bands: Int, rowsPerBand: Int,
                            numBuckets: Int = 0, version: Int = 0,
                            idCol: String = "", fpsDdl: String = "",
                            bandsDdl: String = "")
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
      l.numBuckets, l.version, l.idCol, l.primaryDdl, l.bandsDdl)
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

  /** Load the two index tables: (fingerprints, bands). Bucketed indexes
    * come back as bucketed path reads (partitioning-aware); legacy indexes by
    * enumerating published units ([[appendAtomic]]'s committed units and
    * pre-atomic root-level files), one read covering every legacy shape. */
  def load(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val m = manifest(spark, path)
    if (m.bucketed) (primaryTable(spark, path, m), bandsTable(spark, path, m))
    else (legacyTable(spark, path, "fingerprints"), legacyTable(spark, path, "bands"))
  }

  private def legacyTable(spark: SparkSession, path: String, table: String) =
    spark.read.parquet(graft.core.Commit(spark, path).published(table): _*)

  /** Stored ids, column-pruned — the anti-join side for idempotent
    * appends; on a bucketed index bucketed by this column, so the
    * anti-join exchanges only the incoming batch. */
  override def indexedIds(spark: SparkSession, path: String): DataFrame =
    if (manifest(spark, path).bucketed) super.indexedIds(spark, path)
    else {
      val fps = legacyTable(spark, path, "fingerprints")
      fps.select(col(fps.columns.head))
    }

  /** True iff [[appendAtomic]] fully published batch `batchKey`: its
    * bands share (written last) is committed and the manifest exists. */
  def batchApplied(spark: SparkSession, path: String, batchKey: String): Boolean =
    graft.core.Commit(spark, path).applied(batchKey, lastTable = "bands") &&
      exists(spark, path)

  /** CRASH-ATOMIC batch append on the LEGACY layout: one
    * [[graft.core.Commit]] keyed unit over the fingerprints and bands
    * tables — bands last, the manifest before the `_commits` record — so a
    * rerun after any crash completes the batch or skips it, never
    * double-appends. Creates the index (manifest without `numBuckets`) on
    * first use. The maintenance-task twin of [[append]]: unit atomicity,
    * at the cost of per-batch corpus-side shuffles in [[dedupBatch]] (no
    * bucket co-location). */
  def appendAtomic(batch: DataFrame, idCol: String, textCol: String,
                   path: String, batchKey: String,
                   shingleN: Int = 3, bands: Int = 16,
                   rowsPerBand: Int = 4): Unit = {
    val spark = batch.sparkSession
    val m = if (exists(spark, path)) manifest(spark, path)
            else Manifest(shingleN, bands, rowsPerBand)
    require(!m.bucketed,
      s"index at $path is bucketed; appendAtomic's per-batch units would " +
        "corrupt the bucket layout — append via append")
    val store = graft.core.Commit(spark, path)
    val fps = store.putBatch("fingerprints", batchKey)(
      MinHashLsh.fingerprints(batch, idCol, textCol, m.shingleN)
        .write.mode("overwrite").parquet(_))
    // band keys from the PUBLISHED fingerprints (no re-shingle via lineage)
    store.putBatch("bands", batchKey)(MinHashLsh.bandIndex(
      spark.read.parquet(fps), idCol, m.bands, m.rowsPerBand)
      .write.mode("overwrite").parquet(_))
    if (!exists(spark, path)) writeManifest(spark, path, m)
    store.commitBatch(batchKey)
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
