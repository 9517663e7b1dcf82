package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** MinHash + LSH near-duplicate detection over word-shingle sets.
  *
  * Permutations are md5-derived (one digest per shingle, k slots by
  * Kirsch-Mitzenmacher arithmetic — see [[graft.functions.MinHashSig]]),
  * engine-portable so the whole pipeline is oracle-verifiable.
  * Banding: `bands` bands of `rowsPerBand` signature slots each —
  * a pair is a candidate iff ALL r slots of some band match, so
  * P(candidate) = 1-(1-j^r)^b: the classic S-curve with inflection near
  * (1/b)^(1/r). At b=16, r=4 that's ~0.5 — j=0.3 pairs are <13% candidates
  * (vs ~88% with r=1) while j>=0.8 pairs are >99.9% caught.
  *
  * Scale design (100 TB): the candidate join is a shuffle on band value —
  * cardinality O(docs x bands), each bucket small because r concatenated
  * minhashes only collide for genuinely similar shingle sets. The verify
  * step re-joins shingle sets only for candidate pairs (tiny relative to
  * the corpus). `maxBucket` drops degenerate buckets (boilerplate/empty
  * templates that defeat hashing) before the pair join — the skew guard for
  * adversarial corpora; `ml.feature.MinHashLSH` offers a similar shape via
  * approxSimilarityJoin but isn't hash-portable for our oracle.
  */
object MinHashLsh {

  /** k minhash slots (int64) over a distinct-shingle array column — one
    * md5 per shingle, slots derived arithmetically; see
    * [[graft.functions.MinHashSig]] for the construction + DuckDB parity. */
  def signature(shingleSet: Column, perms: Int): Column =
    graft.functions.MinHashSig.minhashSig(shingleSet, perms)

  /** Candidate pairs (idA < idB) sharing at least one complete band of
    * `rowsPerBand` consecutive signature slots. Band keys come from the
    * one-pass [[graft.functions.MinHashBands]] expression over
    * `shingle_set` — NOT from indexing a separate `sig` column, which lets
    * CollapseProject re-inline the whole signature per slot reference.
    * Buckets larger than `maxBucket` are dropped before the pair join
    * (skew guard: a bucket of size s contributes s^2/2 pairs, so one
    * boilerplate bucket can dominate the whole job; dropping it loses only
    * pairs a degenerate key matched). */
  def candidatePairs(shingled: DataFrame, idCol: String, bands: Int,
                     rowsPerBand: Int,
                     maxBucket: Option[Int] = None): DataFrame = {
    val exploded = shingled.select(col(idCol),
      explode(graft.functions.MinHashBands.minhashBands(
        col("shingle_set"), bands, rowsPerBand)).as("band"))
    val capped = CapFold.capBuckets(exploded, Seq("band"), maxBucket)
    val a = capped.as("a")
    val b = capped.as("b")
    a.join(b, col("a.band") === col("b.band") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Full pipeline: near-dup pairs with exact shingle-Jaccard >= threshold.
    * Signature length is bands x rowsPerBand. */
  def nearDuplicatePairs(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, bands: Int = 16,
                         rowsPerBand: Int = 4, threshold: Double = 0.5,
                         maxBucket: Option[Int] = None): DataFrame = {
    // Fan the (id, text) projection to the session's parallelism before
    // the shingle+digest kernel: a single-row-group input scans as ONE
    // task, serializing the md5-minhash work on one core (guide §2.5).
    // Tables.fan's size guard makes this a no-op on corpus-scale inputs,
    // where the scan has natural splits and text must not be re-shuffled.
    val sets = graft.tables.Tables.fan(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        TextOps.shingles(col(textCol), shingleN).as("shingle_set"))
    val cands = candidatePairs(sets, idCol, bands, rowsPerBand, maxBucket)
    val sa = sets.withColumnRenamed(idCol, "id_a").withColumnRenamed("shingle_set", "set_a")
    val sb = sets.withColumnRenamed(idCol, "id_b").withColumnRenamed("shingle_set", "set_b")
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        graft.functions.JaccardSim.jaccardSim(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---- incremental dedup against a stored index ---------------------------
  //
  // The production shape for continuous ingestion: fingerprint the corpus
  // ONCE (two small tables you persist — shingle sets and exploded band
  // keys), then each incoming batch computes only ITS OWN signatures and
  // equi-joins the band index. The corpus is never re-read, re-shingled,
  // or re-hashed, and when the index tables are BUCKETED on their join
  // keys (the [[BucketedIndex]] layout [[DedupIndex]] persists: bands by
  // `band`, fingerprints by the id column) the corpus side is never
  // re-SHUFFLED either — the batch side alone is exchanged to the bucket
  // layout, so per-batch shuffle cost is O(batch). The corpus-side scan
  // of the band index within the candidate join is still O(corpus-index)
  // I/O per batch (the index is a few percent of corpus text size); the
  // cap fold avoids even that for its half by reading the small
  // precomputed bucket-size deltas instead ([[CapFold]]). Streaming twin:
  // streaming/StreamOps.nearDupCollisions (same banding constants,
  // FlatMapGroupsWithState band state).

  /** The verify-side index: one row per document, its distinct shingle
    * set. Persist next to the band index. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3): DataFrame =
    df.select(col(idCol), TextOps.shingles(col(textCol), shingleN).as("shingle_set"))

  /** The candidate-side index: (id, band) exploded band keys. */
  def bandIndex(fps: DataFrame, idCol: String,
                bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    fps.select(col(idCol),
      explode(graft.functions.MinHashBands.minhashBands(
        col("shingle_set"), bands, rowsPerBand)).as("band"))

  /** Near-duplicates of `batch` against a prebuilt corpus index:
    * `(corpus_id, batch_id, jaccard)` for exact shingle-Jaccard >=
    * `threshold`. The bucket cap applies to the COMBINED (index + batch)
    * bucket size — a boilerplate band is degenerate regardless of which
    * side fills it — but is ENFORCED on the batch side only, which is
    * pair-equivalent (a pair needs a row from each side; see [[CapFold]])
    * and keeps the corpus index out of the cap's groupBy entirely.
    * `corpusBandSizes` is the precomputed (band, n) bucket-size frame the
    * [[BucketedIndex]] lifecycle maintains (delta rows, summed in the
    * fold); one-shot callers omit it and the sizes are counted from
    * `corpusBands` — still a map-side-combined aggregate, but a corpus
    * scan the stored index avoids. Band constants must match the ones
    * the index was built with. When `corpusBands`/`corpusFps` come from
    * bucketed tables, neither corpus side is shuffled: the candidate
    * join co-locates on `band`, the verify join on the id bucket layout
    * (ProjectExec rewrites the partitioning through the `corpus_id`
    * alias). */
  def nearDuplicatesAgainstIndex(corpusFps: DataFrame, corpusBands: DataFrame,
                                 batch: DataFrame, idCol: String, textCol: String,
                                 shingleN: Int = 3, bands: Int = 16,
                                 rowsPerBand: Int = 4, threshold: Double = 0.5,
                                 maxBucket: Option[Int] = None,
                                 corpusBandSizes: Option[DataFrame] = None): DataFrame = {
    val batchFps = fingerprints(batch, idCol, textCol, shingleN)
    val batchBands = bandIndex(batchFps, idCol, bands, rowsPerBand)
    val sizes = corpusBandSizes.getOrElse(
      corpusBands.groupBy(col("band")).agg(count(lit(1)).as("n")))
    val bi = CapFold.applyCap(batchBands, Seq("band"), maxBucket, sizes)
      .select(col(idCol).as("batch_id"), col("band"))
    val ci = corpusBands.select(col(idCol).as("corpus_id"), col("band"))
    val cands = ci.join(bi, "band")
      .select(col("corpus_id"), col("batch_id")).distinct()
    val sa = corpusFps.select(col(idCol).as("corpus_id"),
      col("shingle_set").as("set_a"))
    val sb = batchFps.select(col(idCol).as("batch_id"),
      col("shingle_set").as("set_b"))
    cands.join(sa, "corpus_id").join(sb, "batch_id")
      .withColumn("jaccard",
        graft.functions.JaccardSim.jaccardSim(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("corpus_id"), col("batch_id"), col("jaccard"))
  }
}
