package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent banded-Hamming dedup index for MEDIA fingerprint codes
  * (image dHash, acoustic fingerprints, per-frame clip hashes — any
  * ≤64-bit code) — the [[BucketedIndex]] lifecycle with [[BandedHamming]]
  * as the candidate engine: fingerprint each batch ONCE as it arrives,
  * match it against the stored corpus at O(batch) shuffle cost, and fold
  * it into the index; the corpus codes are never recomputed and the media
  * bytes themselves are never stored or re-decoded.
  *
  * Tables: `codes` — (id, code), bucketed by id (the id column is always
  * normalized to `id`); `bands` — (id, code, band, bkey), bucketed by
  * (band, bkey); `band_sizes` — (band, bkey, n) deltas. Both tables are a
  * few dozen bytes per media item.
  */
object MediaDedupIndex extends BucketedIndex(
    label = "media dedup", primaryBase = "codes",
    bandCols = Seq("band", "bkey"), primaryDdlField = "codesDdl",
    keepsIdCol = false) {

  /** Band constants + bucketed-layout metadata, persisted as
    * `<path>/index.json` (see [[BucketedIndex.Layout]]). */
  final case class Manifest(nBands: Int, bandBits: Int, numBuckets: Int = 8,
                            version: Int = 0, codesDdl: String = "",
                            bandsDdl: String = "")
      extends BucketedIndex.Manifest {
    def idCol: String = "id"
    def primaryDdl: String = codesDdl
  }
  type M = Manifest

  protected def constants(m: Manifest): Seq[(String, Long)] =
    Seq("nBands" -> m.nBands, "bandBits" -> m.bandBits)
  protected def manifestOf(c: String => Long,
                           l: BucketedIndex.Layout): Manifest =
    Manifest(c("nBands").toInt, c("bandBits").toInt, l.numBuckets, l.version,
      l.primaryDdl, l.bandsDdl)
  protected def primaryRows(codes: DataFrame, idCol: String, codeCol: String,
                            m: Manifest): DataFrame =
    codes.select(col(idCol).as("id"), col(codeCol).as("code"))
  protected def bandRows(codes: DataFrame, m: Manifest): DataFrame =
    BandedHamming.bandKeys(codes, "id", "code", m.nBands, m.bandBits)

  /** Write a fresh index from (id, code) rows (overwrites any existing). */
  def build(codes: DataFrame, idCol: String, codeCol: String, path: String,
            nBands: Int = 4, bandBits: Int = 16, numBuckets: Int = 8): Unit =
    create(codes, idCol, codeCol, path, Manifest(nBands, bandBits, numBuckets))

  /** Near-duplicates of `batch` (id, code) rows against the stored index
    * at O(batch) shuffle cost: `(corpus_id, batch_id, hamming)` for
    * Hamming ≤ `maxHamming`, candidates from the persisted bucketed band
    * keys (corpus side never exchanged — pinned by PlanSpec), never
    * all-pairs; the cap fold reads the precomputed band_sizes deltas,
    * never the bands table. */
  def dedupBatch(spark: SparkSession, path: String, batch: DataFrame,
                 idCol: String, codeCol: String, maxHamming: Int,
                 maxBucket: Option[Int] = None): DataFrame = {
    val m = bucketedManifest(spark, path)
    BandedHamming.pairsAgainstIndex(bandsTable(spark, path, m),
      primaryRows(batch, idCol, codeCol, m), "id", "code", m.nBands,
      m.bandBits, maxHamming, maxBucket, Some(bandSizes(spark, path, m)))
  }
}
