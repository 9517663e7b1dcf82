package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.similarity.{AnnIndex, DedupIndex, MediaDedupIndex}

/** Event-time streaming operators.
  *
  * The reference's streaming path is pure source→sink append with no
  * watermark, window, dedup, or state anywhere (SURVEY.md §2C — its only
  * streaming knobs are trigger interval and maxOffsetsPerTrigger). These are
  * the operators a production pipeline needs on top; all are bounded-state
  * by construction (watermark-evicted), which is what makes them safe on an
  * unbounded 100 TB/day stream.
  */
object StreamOps {

  /** Tumbling event-time window counts with watermarked late-data handling.
    * State per key x window is evicted once the watermark passes. */
  def tumblingCounts(df: DataFrame, tsCol: String, watermarkDelay: String,
                     windowLength: String, keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), windowLength) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"))

  /** Session windows with a gap — the built-in state-store implementation
    * (merges adjacent windows, evicts on watermark). */
  def sessionCounts(df: DataFrame, tsCol: String, watermarkDelay: String,
                    gap: String, keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"))

  /** Streaming exact dedup with bounded state:
    * `dropDuplicatesWithinWatermark` keeps each key only until the watermark
    * passes, unlike `dropDuplicates` whose state grows forever. */
  def dedupWithinWatermark(df: DataFrame, tsCol: String,
                           watermarkDelay: String,
                           keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  // ---- streaming near-dup detection at ingest (MinHash LSH state) ----

  final case class BandHit(band: String, docId: Long)
  final case class BandOwner(firstId: Long)
  final case class Collision(docId: Long, dupOf: Long, band: String)

  /** A streaming document's LSH band keys, one row per band — the
    * stream-side prep for [[nearDupCollisions]]. Same banding constants as
    * the batch pipeline (q27), so stream and batch agree on what counts as
    * a candidate near-dup. */
  def bandHits(df: DataFrame, idCol: String, textCol: String,
               shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): Dataset[BandHit] = {
    import df.sparkSession.implicits._
    import graft.functions.MinHashBands
    import graft.text.TextOps
    df.select(
        explode(MinHashBands.minhashBands(
          TextOps.shingles(col(textCol), shingleN), bands, rowsPerBand)).as("band"),
        col(idCol).cast("long").as("docId"))
      .as[BandHit]
  }

  /** Near-duplicate detection AT INGEST: per-band state remembers the first
    * document that claimed each LSH band key; any later document hitting a
    * known band emits a (docId, dupOf, band) collision — the streaming
    * spelling of q27's batch candidate join. Distinct collision docIds are
    * the drop set (verify with exact Jaccard downstream exactly as the
    * batch path does). State is one long per OBSERVED band key, sharded by
    * the state store like any keyed state; in production add a watermark +
    * state TTL so quiet bands age out instead of accumulating forever. */
  def nearDupCollisions(hits: Dataset[BandHit]): Dataset[Collision] = {
    import hits.sparkSession.implicits._
    hits.groupByKey(_.band)
      .flatMapGroupsWithState[BandOwner, Collision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (band, it, state: GroupState[BandOwner]) =>
          // deterministic: the smallest id in the first batch owns the band
          val ids = it.map(_.docId).toSeq.distinct.sorted
          state.getOption match {
            case Some(owner) =>
              ids.filterNot(_ == owner.firstId)
                .map(Collision(_, owner.firstId, band)).iterator
            case None =>
              val first = ids.head
              state.update(BandOwner(first))
              ids.tail.map(Collision(_, first, band)).iterator
          }
      }
  }

  // ---- custom state: gap sessionization via flatMapGroupsWithState ----

  final case class SessionEvent(key: String, tsMicros: Long)
  final case class SessionState(startMicros: Long, lastMicros: Long, nEvents: Long)
  final case class SessionOut(key: String, startMicros: Long, endMicros: Long,
                              nEvents: Long)

  /** Custom-state sessionization: emits a session when the gap since the
    * last event exceeds `gapMicros` (event-time timeout). This is the
    * `flatMapGroupsWithState` shape for semantics the built-in
    * `session_window` can't express (e.g. emitting intermediate session
    * snapshots or custom merge rules). State is one small record per active
    * key — eviction via event-time timeout keeps it bounded. */
  def sessionize(events: Dataset[SessionEvent], gapMicros: Long)(
      implicit outEnc: Encoder[SessionOut],
      stateEnc: Encoder[SessionState]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state: GroupState[SessionState]) =>
          // Batch-sorted per group; in production pair with an event-time
          // timeout to emit sessions for keys that go quiet.
          val sorted = it.toSeq.sortBy(_.tsMicros)
          var st = state.getOption
          val closed = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            st match {
              case Some(s) if e.tsMicros - s.lastMicros <= gapMicros =>
                st = Some(s.copy(lastMicros = e.tsMicros, nEvents = s.nEvents + 1))
              case Some(s) =>
                closed += SessionOut(key, s.startMicros, s.lastMicros, s.nEvents)
                st = Some(SessionState(e.tsMicros, e.tsMicros, 1))
              case None =>
                st = Some(SessionState(e.tsMicros, e.tsMicros, 1))
            }
          }
          st.foreach(state.update)
          closed.result().iterator
      }
  }

  // ---- transformWithState (Spark 4 arbitrary-state v2) ----

  final case class KeyedValue(key: String, value: Double)
  final case class RunningStat(key: String, n: Long, total: Double, mean: Double)

  /** Per-key running count/sum/mean via the `transformWithState` API — the
    * successor to mapGroupsWithState with composite typed state, TTL, and
    * timers. State here is one small record per key; at scale the state
    * store shards by key like any keyed state. Requires the RocksDB state
    * store provider (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`): the default HDFS-backed store
    * doesn't support the multiple column families this API uses. */
  class RunningStatProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, KeyedValue, RunningStat] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => E}

    @transient private var stat: ValueState[(Long, Double)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      stat = getHandle.getValueState[(Long, Double)]("stat",
        E.tuple(E.scalaLong, E.scalaDouble), TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[KeyedValue],
                                 timerValues: TimerValues): Iterator[RunningStat] = {
      var (n, total) = if (stat.exists()) stat.get() else (0L, 0.0)
      rows.foreach { r => n += 1; total += r.value }
      stat.update((n, total))
      Iterator.single(RunningStat(key, n, total, total / n))
    }
  }

  /** Stream of per-key running stats, updated each micro-batch. */
  def runningStats(events: Dataset[KeyedValue])(
      implicit outEnc: Encoder[RunningStat]): Dataset[RunningStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .transformWithState(new RunningStatProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** Replace ONE `partCol = value` partition of the parquet dir at
    * `path` — dynamic partition overwrite as a per-write option, so the
    * session-global `spark.sql.sources.partitionOverwriteMode` is never
    * touched (a save/flip/restore of the shared conf races every other
    * writer planning on the same session). The idempotence primitive of
    * every replay-safe sink here: a re-run batch REPLACES its own
    * partition instead of duplicating rows. */
  def overwritePartition(df: DataFrame, partCol: String, value: Any,
                         path: String): Unit =
    df.withColumn(partCol, lit(value))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)

  /** Run `body` on every micro-batch of `df`, checkpointed at
    * `checkpoint` — the one streaming entry for this object's per-batch
    * bodies ([[overwritePartition]], [[dedupIndexBatch]],
    * [[annIndexBatch]], [[ivmBatch]], [[cmsBatch]], [[driftBatch]], ...).
    * Each body is keyed by `batchId`, so a micro-batch replayed from the
    * checkpoint replaces its own output instead of duplicating it. */
  def sink(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** One micro-batch of continuous dedup-index maintenance (the
    * [[graft.similarity.BucketedIndex.sinkBatch]] replay contract):
    * dedup `batch` against the persistent [[graft.similarity.DedupIndex]]
    * at `indexPath` (which must already exist — this sink never builds
    * it), write the matches exactly-once into a `micro_batch_id`
    * partition of `matchesPath` (the match schema already has a
    * `batch_id` column, the matched document's id), then append the
    * not-yet-indexed docs. */
  def dedupIndexBatch(batch: DataFrame, batchId: Long, idCol: String,
                      textCol: String, indexPath: String, matchesPath: String,
                      threshold: Double = 0.5,
                      maxBucket: Option[Int] = None,
                      compactEveryNBatches: Int = 0,
                      compactTargetFileBytes: Long = 128L * 1024 * 1024): Unit =
    DedupIndex.sinkBatch(batch, batchId, idCol, textCol, indexPath,
        matchesPath, createWith = None, compactEveryNBatches,
        compactTargetFileBytes) {
      // corpus_id =!= batch_id: on replay the batch's own docs are already
      // indexed (appended by the first attempt), and a doc must not match
      // itself — with the guard, a replayed batch reproduces its original
      // match set exactly
      DedupIndex.dedupBatch(batch.sparkSession, indexPath, batch, idCol,
          textCol, threshold, maxBucket)
        .filter(col("corpus_id") =!= col("batch_id"))
    }

  /** One micro-batch of continuous MEDIA dedup-index maintenance (the
    * [[graft.similarity.BucketedIndex.sinkBatch]] replay contract):
    * `batch` carries (id, code) fingerprint rows — an image dHash or
    * acoustic fingerprint computed upstream by the narrow decode chain
    * ([[graft.multimodal.MediaCodec]]; media BYTES never reach this
    * operator or the index), Hamming-matched against the persistent
    * [[graft.similarity.MediaDedupIndex]]. Creates the index on the first
    * batch, with this sink's banding constants. */
  def mediaDedupIndexBatch(batch: DataFrame, batchId: Long, idCol: String,
                           codeCol: String, indexPath: String,
                           matchesPath: String, maxHamming: Int,
                           nBands: Int = 4, bandBits: Int = 16,
                           maxBucket: Option[Int] = None,
                           compactEveryNBatches: Int = 0,
                           compactTargetFileBytes: Long = 128L * 1024 * 1024): Unit =
    MediaDedupIndex.sinkBatch(batch, batchId, idCol, codeCol, indexPath,
        matchesPath, Some(MediaDedupIndex.Manifest(nBands, bandBits)),
        compactEveryNBatches, compactTargetFileBytes) {
      // corpus_id =!= batch_id: on replay the batch's own codes are already
      // indexed, and an item must not match itself — with the guard a
      // replayed batch reproduces its original match set exactly
      MediaDedupIndex.dedupBatch(batch.sparkSession, indexPath, batch,
          idCol, codeCol, maxHamming, maxBucket)
        .filter(col("corpus_id") =!= col("batch_id"))
    }

  /** One micro-batch of continuous ANN-index serving (the
    * [[graft.similarity.BucketedIndex.sinkBatch]] replay contract):
    * `batch` carries (id, vector) rows, top-k-matched against the
    * persistent [[graft.similarity.AnnIndex]] (corpus side probed through
    * the stored bucketed band tables — never re-banded, never exchanged).
    * Creates the index on the first batch (banding constants from the
    * sink parameters, pinned in the manifest thereafter);
    * [[graft.similarity.AnnIndex.queryBatch]] excludes self-matches, so a
    * replayed batch whose own vectors were already appended never reports
    * itself. */
  def annIndexBatch(batch: DataFrame, batchId: Long, idCol: String,
                    vecCol: String, indexPath: String, matchesPath: String,
                    k: Int, nTables: Int = 8, nBits: Int = 6, dim: Int = 64,
                    seed: Long = 42L, maxBucket: Option[Int] = None,
                    compactEveryNBatches: Int = 0,
                    compactTargetFileBytes: Long = 128L * 1024 * 1024): Unit =
    AnnIndex.sinkBatch(batch, batchId, idCol, vecCol, indexPath, matchesPath,
        Some(AnnIndex.Manifest(nTables, nBits, dim, seed)),
        compactEveryNBatches, compactTargetFileBytes) {
      AnnIndex.queryBatch(batch.sparkSession, indexPath, batch, idCol,
        vecCol, k, maxBucket)
    }

  /** Per-micro-batch count-min-sketch maintenance — the streaming twin of
    * q108: each batch's token counters land as one `micro_batch_id`
    * partition of the sketch table (depth × width rows per batch, so even
    * years of batches stay tiny; compaction is a groupBy rewrite). Replay
    * idempotency comes free from dynamic partition overwrite: a re-run
    * batch REPLACES its own partition rather than double-counting — the
    * CMS merge property (counter-wise addition over disjoint slices)
    * makes the partitioned layout exactly equivalent to one sketch. */
  def cmsBatch(batch: DataFrame, batchId: Long, tokenCol: String,
               cmsPath: String, depth: Int = 4, width: Int = 256): Unit =
    overwritePartition(
      graft.functions.CountMinSketch.counters(batch, tokenCol, depth, width),
      "micro_batch_id", batchId, cmsPath)

  /** Per-micro-batch incremental gold-view maintenance — the streaming
    * twin of q365/q369: the batch's signed view delta (built by the
    * caller's delta query — typically broadcast dimension joins then
    * [[graft.transform.Ivm.viewDelta]]) lands as one `micro_batch_id`
    * partition of the state dir. Replay idempotency comes free from
    * dynamic partition overwrite: a re-run batch REPLACES its own delta
    * partition rather than double-counting — exactly the property the
    * group-fold needs to stay exactly-once on top of at-least-once batch
    * replays. State stays #batches × #groups metadata rows; the view's
    * base data is never re-read. */
  def ivmBatch(delta: DataFrame, batchId: Long, statePath: String): Unit =
    overwritePartition(delta, "micro_batch_id", batchId, statePath)

  /** The current view: fold every stored per-batch delta partition. */
  def ivmView(spark: org.apache.spark.sql.SparkSession, statePath: String,
              keys: Seq[String]): DataFrame =
    graft.transform.Ivm.merge(
      spark.read.parquet(statePath).drop("micro_batch_id"), keys)

  /** The live sketch: counter-wise sum over all batch partitions. */
  def cmsRead(spark: org.apache.spark.sql.SparkSession, cmsPath: String): DataFrame =
    spark.read.parquet(cmsPath)
      .groupBy(col("d"), col("b"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  /** Hashed-unigram histogram over a token column — the q90/q96 256-bucket
    * feature space as a reusable artifact; aggregation state is `buckets`
    * rows regardless of vocabulary. Build once over a reference corpus and
    * persist as the drift baseline. */
  def unigramHistogram(rows: DataFrame, tokenCol: String,
                       buckets: Int = 256): DataFrame =
    rows.select(graft.functions.StableHash.bucket(col(tokenCol), buckets).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cnt"))

  /** Per-micro-batch corpus-drift monitor — q96's add-1-smoothed KL
    * arithmetic scored against a FIXED persisted baseline histogram: each
    * batch appends one (n_tokens, kl) row in its own `micro_batch_id`
    * partition (dynamic overwrite → replay rewrites, never duplicates).
    * The alert threshold belongs to the consumer; the monitor records the
    * score. Batch cost: one `buckets`-row aggregate + a 2×`buckets`-row
    * join — independent of batch size beyond the histogram scan. */
  def driftBatch(batch: DataFrame, batchId: Long, tokenCol: String,
                 baselinePath: String, metricsPath: String,
                 buckets: Int = 256): Unit = {
    val spark = batch.sparkSession
    val base = spark.read.parquet(baselinePath)
      .select(col("b"), col("cnt").as("c_base"))
    val hist = unigramHistogram(batch, tokenCol, buckets)
      .select(col("b"), col("cnt").as("c_new"))
    val joined = hist.join(base, Seq("b"), "full_outer")
      .select(coalesce(col("c_new"), lit(0L)).as("c_new"),
        coalesce(col("c_base"), lit(0L)).as("c_base"))
    val totals = joined.agg(sum(col("c_new")).cast("double").as("tn"),
      sum(col("c_base")).cast("double").as("tbase"))
    val nB = lit(buckets.toDouble)
    val metrics = joined.crossJoin(totals)
      .select(col("tn"),
        ((((col("c_new") + 1).cast("double")) / (col("tn") + nB)) *
          log((((col("c_new") + 1).cast("double")) / (col("tn") + nB)) /
            (((col("c_base") + 1).cast("double")) / (col("tbase") + nB))))
          .as("term"))
      .agg(max(col("tn")).cast("long").as("n_tokens"),
        round(sum(col("term").cast("decimal(27,12)")).cast("double"), 6).as("kl"))
    overwritePartition(metrics, "micro_batch_id", batchId, metricsPath)
  }

  /** Watermarked stream-stream inner join within a time bound: each left
    * row matches right rows with the same key whose event time lies in
    * [left.ts - tolerance, left.ts] (click-to-impression attribution
    * shape). Both sides carry watermarks + the range predicate, so Spark
    * bounds the join state and evicts it as watermarks advance — without
    * them, stream-stream join state grows forever, the #1 production
    * footgun. At scale the join shuffles both streams on the key only.
    *
    * Expects `ts` columns pre-named distinctly (leftTs/rightTs). */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
                       leftTs: String, rightTs: String,
                       watermarkDelay: String, tolerance: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $tolerance") &&
        r(rightTs) <= l(leftTs),
      "inner")
      .drop(r(key))
  }
}

/** StreamingQueryListener bridge for per-batch metrics (reference's metric
  * traits have zero impls and no streaming story,
  * `/root/reference/src/main/scala/com/lakehouse/ingestion/metrics/
  * Metrics.scala:16-50`). Observe-metrics attached to the streamed
  * DataFrame surface here too (QueryProgressEvent.progress.observedMetrics).
  */
final class ProgressLog extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  import scala.collection.mutable

  final case class BatchProgress(batchId: Long, numInputRows: Long,
                                 observed: Map[String, org.apache.spark.sql.Row])

  private val progress = mutable.ArrayBuffer.empty[BatchProgress]

  def batches: Seq[BatchProgress] = progress.synchronized(progress.toSeq)

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit =
    progress.synchronized {
      import scala.jdk.CollectionConverters._
      progress += BatchProgress(
        event.progress.batchId,
        event.progress.numInputRows,
        event.progress.observedMetrics.asScala.toMap)
    }
}
