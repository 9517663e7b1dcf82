package graft.similarity

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType

/** The lifecycle every persistent BUCKETED index shares — [[DedupIndex]]
  * (MinHash), [[MediaDedupIndex]] (banded Hamming) and [[AnnIndex]]
  * (hyperplane LSH): build the corpus side ONCE, match each new batch
  * against the stored tables at O(batch) shuffle cost, fold the batch
  * in, and keep the layout healthy with compaction and rebucketing. A
  * kind supplies only its band constants, how an input row becomes a
  * stored primary row, how a stored row becomes band rows, and its
  * match function; everything below is written once.
  *
  * Layout (three tables + manifest under one root; each table dir is
  * versioned `_v<N>` by the manifest — compaction/rebucketing publish a
  * new version through ONE atomic manifest replace and retire the old
  * dirs one maintenance cycle later):
  *   <path>/<primary>[_vN]  — one row per indexed item, BUCKETED by its
  *                            id column (verify join / indexed-id
  *                            anti-join side)
  *   <path>/bands[_vN]      — band rows, BUCKETED by the kind's band
  *                            columns (candidate join side)
  *   <path>/band_sizes[_vN] — (bandCols..., n) append-only per-batch size
  *                            deltas (the cap fold's corpus half —
  *                            see [[CapFold]])
  *   <path>/index.json      — band constants + bucket count + live
  *                            version + schema DDLs, pinned at build
  *
  * The two big tables are bucketed parquet dirs read and written by path
  * with the manifest's bucket spec ([[IndexCatalog]]): every per-batch
  * join against them co-locates on the bucket layout, so a batch
  * exchanges ONLY its own side — the property that keeps continuous
  * ingestion alive at 100 TB. A read lists the live dir when its frame
  * is built, so it sees every append that finished before it, from any
  * session.
  * `numBuckets` sizes the per-batch join width: 8 suits test scale; a
  * 100 TB corpus would use O(thousands) so each bucket fits an executor.
  */
abstract class BucketedIndex(
    label: String,
    primaryBase: String,
    bandCols: Seq[String],
    primaryDdlField: String,
    keepsIdCol: Boolean) {
  import BucketedIndex.{Layout, SizesBase}

  /** The kind's manifest: its band constants plus the shared layout. */
  type M <: BucketedIndex.Manifest

  /** The band constants of `m`, in manifest field order. */
  protected def constants(m: M): Seq[(String, Long)]

  /** A manifest from its band constants and its layout. */
  protected def manifestOf(constant: String => Long, layout: Layout): M

  /** Input rows → stored primary rows; the FIRST column is the id column
    * the primary table is bucketed by. */
  protected def primaryRows(input: DataFrame, idCol: String,
                            valueCol: String, m: M): DataFrame

  /** Stored (or pinned batch) primary rows → band rows. */
  protected def bandRows(primary: DataFrame, m: M): DataFrame

  // ---- manifest -----------------------------------------------------------

  private def manifestPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "index.json")

  private def relayout(m: M, f: Layout => Layout): M =
    manifestOf(constants(m).toMap, f(Layout(m.numBuckets, m.version,
      m.idCol, m.primaryDdl, m.bandsDdl)))

  /** Manifest JSON: the band constants, then (bucketed layouts only —
    * legacy [[DedupIndex]] manifests carry constants alone) the layout
    * fields, under the field names earlier releases wrote. */
  private def encode(m: M): String = {
    val o = BucketedIndex.json.createObjectNode()
    constants(m).foreach { case (k, v) => o.put(k, v) }
    if (m.bucketed) {
      o.put("numBuckets", m.numBuckets).put("version", m.version)
      if (keepsIdCol) o.put("idCol", m.idCol)
      o.put(primaryDdlField, m.primaryDdl).put("bandsDdl", m.bandsDdl)
    }
    BucketedIndex.json.writeValueAsString(o)
  }

  protected def writeManifest(spark: SparkSession, path: String, m: M): Unit =
    IndexCatalog.replaceManifest(spark, manifestPath(path), encode(m))

  /** True iff an index (manifest, or a crashed replace's promotable tmp)
    * is already present at `path` — the exists()-gated streaming sinks
    * must never mistake a mid-replace index for an absent one (they
    * would silently rebuild the corpus index from one batch). */
  def exists(spark: SparkSession, path: String): Boolean =
    IndexCatalog.manifestPresent(spark, manifestPath(path))

  /** Read the constants the index was built with (healing a crashed
    * manifest replace — see [[IndexCatalog.readManifestText]]). Fields
    * later releases added default when absent: `version` to 0,
    * the DDLs to "" (schema from the parquet footers), `idCol` to ""
    * (the stored schema's first column), `numBuckets` to 0 (the legacy
    * unbucketed layout); retired fields are ignored. */
  def manifest(spark: SparkSession, path: String): M = {
    val p = manifestPath(path)
    val n = BucketedIndex.json.readTree(IndexCatalog.readManifestText(spark, p))
    def field(name: String) = Option(n.get(name)).filterNot(_.isNull)
    def num(name: String): Int = field(name).fold(0)(_.asInt)
    def str(name: String): String = field(name).fold("")(_.asText)
    manifestOf(
      name => field(name).filter(_.isNumber).map(_.asLong).getOrElse(
        throw new IllegalStateException(
          s"$label index manifest at $p missing field $name")),
      Layout(num("numBuckets"), num("version"), str("idCol"),
        str(primaryDdlField), str("bandsDdl")))
  }

  protected def bucketedManifest(spark: SparkSession, path: String): M = {
    val m = manifest(spark, path)
    require(m.bucketed, s"$label index at $path predates the bucketed " +
      "layout (its manifest has no numBuckets); re-build it")
    m
  }

  // ---- versioned tables ---------------------------------------------------

  /** One of the two bucketed tables at manifest `m`'s version, read and
    * written by path with the manifest's bucket spec. */
  private final class Table(val base: String, val cols: Seq[String],
                            ddl: String, path: String, m: M) {
    val dir: String = IndexCatalog.tableDir(path, base, m.version)
    /** The stored schema: the manifest's DDL, else (pre-r11 manifests)
      * the parquet footers. */
    def schema(spark: SparkSession): StructType =
      if (ddl.nonEmpty) StructType.fromDDL(ddl)
      else spark.read.parquet(dir).schema
    /** The table as a DataFrame — a bucketed scan; a plain path read
      * would lose the bucket spec and with it the shuffle-free join. */
    def read(spark: SparkSession): DataFrame = readAs(spark, schema(spark))
    private def readAs(spark: SparkSession, s: StructType): DataFrame =
      bridge.readBucketed(spark, dir, s, cols, m.numBuckets)
    /** Replace the table with `df`'s rows; the stored table, read back. */
    def writeFresh(df: DataFrame): DataFrame = {
      bridge.writeBucketed(df, dir, cols, m.numBuckets, append = false)
      readAs(df.sparkSession, df.schema)
    }
    def append(df: DataFrame): Unit =
      bridge.writeBucketed(df, dir, cols, m.numBuckets, append = true)
  }

  private def tables(spark: SparkSession, path: String, m: M): Seq[Table] =
    Seq(new Table(primaryBase, Seq(storedIdCol(spark, path, m)),
        m.primaryDdl, path, m),
      new Table("bands", bandCols, m.bandsDdl, path, m))

  /** The stored primary table's id column — from the manifest when
    * present, else from the stored schema (pre-r11 manifests). */
  private def storedIdCol(spark: SparkSession, path: String, m: M): String =
    if (m.idCol.nonEmpty) m.idCol
    else spark.read.parquet(IndexCatalog.tableDir(path, primaryBase,
      m.version)).schema.head.name

  private def sizesDir(path: String, version: Int): String =
    IndexCatalog.tableDir(path, SizesBase, version)

  private def sizeDeltas(bands: DataFrame): DataFrame =
    bands.groupBy(bandCols.map(col): _*).agg(count(lit(1)).as("n"))

  protected def primaryTable(spark: SparkSession, path: String, m: M): DataFrame =
    tables(spark, path, m).head.read(spark)

  protected def bandsTable(spark: SparkSession, path: String, m: M): DataFrame =
    tables(spark, path, m)(1).read(spark)

  /** The corpus-side size deltas the cap fold reads. */
  protected def bandSizes(spark: SparkSession, path: String, m: M): DataFrame =
    spark.read.parquet(sizesDir(path, m.version))

  /** Delete the files of every table-dir version other than `keep` — the
    * grace-period expiry: a compact or rebucket leaves its predecessor's
    * dirs in place (in-flight scans in other sessions finish against
    * their resolved listings) and the NEXT maintenance run, or an
    * explicit rebuild, reclaims them. */
  private def cleanRetired(spark: SparkSession, path: String,
                           keep: Int): Unit =
    IndexCatalog.retiredVersions(spark, path,
      Seq(primaryBase, "bands", SizesBase), keep).foreach { case (base, ver) =>
      val d = new org.apache.hadoop.fs.Path(
        IndexCatalog.tableDir(path, base, ver))
      d.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(d, true)
    }

  /** Publish `next` through ONE atomic manifest replace, schema DDLs
    * filled from the new tables where the manifest lacks them (pre-r11
    * manifests). Other sessions read the new dirs from the manifest on
    * their next read; the old files stay for the grace period. */
  private def publish(spark: SparkSession, path: String, next: M): Unit = {
    val Seq(p, b) = tables(spark, path, next)
    def ddl(have: String, t: Table) =
      if (have.nonEmpty) have else t.schema(spark).toDDL
    writeManifest(spark, path, relayout(next, _.copy(
      primaryDdl = ddl(next.primaryDdl, p), bandsDdl = ddl(next.bandsDdl, b))))
  }

  // ---- lifecycle ----------------------------------------------------------

  /** Write a fresh index from `input` with `m0`'s constants (overwrites
    * any existing index at `path`): the stored primary table first, then
    * the bands FROM THE STORED ROWS (the caller's — possibly expensive —
    * lineage runs once), the size snapshot from the stored bands, and
    * the manifest last. */
  protected def create(input: DataFrame, idCol: String, valueCol: String,
                       path: String, m0: M): Unit = {
    val spark = input.sparkSession
    // a rebuild over a compacted/rebucketed index must not orphan its
    // _v<N> dirs (live OR grace-retired) — version 0 dirs are overwritten
    // in place below
    cleanRetired(spark, path, keep = 0)
    val rows = primaryRows(input, idCol, valueCol, m0)
    val m = relayout(m0, _.copy(version = 0, idCol = rows.columns.head))
    val Seq(p, b) = tables(spark, path, m)
    val stored = p.writeFresh(rows)
    val bandsT = b.writeFresh(bandRows(stored, m))
    sizeDeltas(bandsT).write.mode("overwrite").parquet(sizesDir(path, 0))
    writeManifest(spark, path, relayout(m, _.copy(
      primaryDdl = stored.schema.toDDL, bandsDdl = bandsT.schema.toDDL)))
  }

  /** Append a batch using the index's pinned constants: both bucketed
    * tables gain only the batch's rows in their bucket layout (no rewrite
    * of existing index data), band_sizes gains the batch's delta rows. */
  def append(input: DataFrame, idCol: String, valueCol: String,
             path: String): Unit = {
    val m = bucketedManifest(input.sparkSession, path)
    // pin the batch: one pass over the caller's lineage (the shingling,
    // and in sinkBatch the idempotent-append anti-join and its exchange)
    // feeds both tables and the size deltas, instead of one recompute per
    // write (a sinkBatch runs one Spark job fewer pinned than unpinned)
    val rows = primaryRows(input, idCol, valueCol, m).localCheckpoint(true)
    val Seq(p, b) = tables(input.sparkSession, path,
      relayout(m, _.copy(idCol = rows.columns.head)))
    p.append(rows)
    // one band pass over the pinned batch feeds the bands table and the
    // size deltas
    val bands = bandRows(rows, m)
    b.append(bands)
    sizeDeltas(bands).write.mode("append").parquet(sizesDir(path, m.version))
  }

  /** Stored ids, column-pruned and bucketed — the anti-join side for
    * idempotent appends exchanges only the incoming batch. */
  def indexedIds(spark: SparkSession, path: String): DataFrame = {
    val m = bucketedManifest(spark, path)
    val t = tables(spark, path, m).head
    t.read(spark).select(col(t.cols.head))
  }

  /** Bucket-preserving maintenance compaction: both big tables rewrite to
    * ~1 file per bucket per `targetFileBytes` ([[IndexCatalog.rewriteBucketed]]
    * — a ZERO-shuffle rewrite on a dedicated child session, so the pinned
    * planner confs never leak into concurrently-planning queries), and
    * the append-only band_sizes deltas fold to one snapshot (the cap fold
    * sums deltas, so the fold is semantics-free). All three land in fresh
    * `_v<N+1>` dirs published by ONE atomic manifest replace: a crash
    * before the publish leaves the old layout fully live (orphan dirs are
    * overwritten by the retry), and the retired dirs stay on disk until
    * the next maintenance run so a scan in flight in another session
    * finishes against its resolved listing. Run on a maintenance cadence
    * (or via the sink's `compactEveryNBatches`) — per-bucket file counts
    * otherwise grow without bound under streaming appends. Stats are
    * keyed by table base name. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024)
      : Map[String, IndexCatalog.TableCompaction] = {
    val m = bucketedManifest(spark, path)
    val ts = tables(spark, path, m)
    // grace expiry: reclaim the dirs the PREVIOUS maintenance run retired
    cleanRetired(spark, path, keep = m.version)
    val next = relayout(m, _.copy(version = m.version + 1,
      idCol = ts.head.cols.head))
    val stats = ts.zip(tables(spark, path, next)).map { case (t, n) =>
        t.base -> IndexCatalog.rewriteBucketed(spark, t.dir, n.dir,
          t.schema(spark), t.cols, m.numBuckets, targetFileBytes)
      }.toMap +
      (SizesBase -> IndexCatalog.foldSizeDeltasTo(spark,
        sizesDir(path, m.version), sizesDir(path, next.version), bandCols,
        targetFileBytes))
    publish(spark, path, next)
    stats
  }

  /** Re-bucket an index whose corpus outgrew its build-time `numBuckets`
    * (each bucket's band rows must fit an executor; a 100 TB corpus wants
    * O(thousands)). Rewrites both tables from the STORED rows — O(index),
    * never a re-derivation from the source column — into fresh `_v<N+1>`
    * dirs, published by ONE atomic manifest replace (the [[compact]]
    * discipline). Appends and matches pick up the new bucket count from
    * the manifest on their next read. */
  def rebucket(spark: SparkSession, path: String, newBuckets: Int): Unit = {
    val m = bucketedManifest(spark, path)
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    val ts = tables(spark, path, m)
    // grace expiry: reclaim the dirs the PREVIOUS maintenance run retired
    cleanRetired(spark, path, keep = m.version)
    val next = relayout(m, _.copy(numBuckets = newBuckets,
      version = m.version + 1, idCol = ts.head.cols.head))
    ts.zip(tables(spark, path, next)).foreach { case (t, n) =>
      n.writeFresh(t.read(spark))
    }
    IndexCatalog.foldSizeDeltasTo(spark, sizesDir(path, m.version),
      sizesDir(path, next.version), bandCols)
    publish(spark, path, next)
  }

  /** One micro-batch of continuous index maintenance — the body every
    * streaming index sink shares, callable directly so replay semantics
    * are unit-testable: create the index from `createWith` if it is
    * absent (never when a crashed manifest replace left a promotable
    * tmp — see [[exists]]), write `matches` EXACTLY-ONCE into the
    * `micro_batch_id` partition of `matchesPath` (a replayed batch
    * replaces its own output), then append only the batch rows whose ids
    * are not yet indexed (an anti-join against the column-pruned,
    * bucketed id column), so checkpoint-recovery replays can neither
    * double-index an item nor produce duplicate match rows. Every append
    * adds ≥1 file per bucket (and one band_sizes delta file), so the sink
    * compacts every `compactEveryNBatches` batches; compaction is
    * content-idempotent — a replay at a compaction batch just compacts an
    * already-compact index. */
  def sinkBatch(batch: DataFrame, batchId: Long, idCol: String,
                valueCol: String, path: String, matchesPath: String,
                createWith: Option[M], compactEveryNBatches: Int,
                compactTargetFileBytes: Long)(matches: => DataFrame): Unit = {
    val spark = batch.sparkSession
    createWith.filterNot(_ => exists(spark, path))
      .foreach(create(batch.limit(0), idCol, valueCol, path, _))
    graft.streaming.StreamOps.overwritePartition(matches, "micro_batch_id",
      batchId, matchesPath)
    val ids = indexedIds(spark, path)
    val fresh = batch.join(
      if (ids.columns.head == idCol) ids
      else ids.withColumnRenamed(ids.columns.head, idCol),
      Seq(idCol), "left_anti")
    append(fresh, idCol, valueCol, path)
    if (compactEveryNBatches > 0 && (batchId + 1) % compactEveryNBatches == 0)
      compact(spark, path, compactTargetFileBytes)
  }
}

object BucketedIndex {

  /** The layout half every manifest shares. `version` names the live
    * table dirs ([[IndexCatalog.tableDir]]); `idCol` and the two schema
    * DDLs type a read without a footer read of a possibly-huge index. */
  final case class Layout(numBuckets: Int, version: Int, idCol: String,
                          primaryDdl: String, bandsDdl: String)

  /** What the shared lifecycle reads from a kind's manifest. */
  trait Manifest {
    def numBuckets: Int
    def version: Int
    def idCol: String
    def primaryDdl: String
    def bandsDdl: String
    def bucketed: Boolean = numBuckets > 0
  }

  private val SizesBase = "band_sizes"

  /** Manifest codec. Releases before the Jackson codec escaped only `"`,
    * `\` and newline, so a DDL there may hold a raw tab or other control
    * character — tolerated on read. */
  private val json = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  /** Every index kind by its maintenance-task prefix (`<kind>-index-*`). */
  lazy val kinds: Map[String, BucketedIndex] = Map(
    "dedup" -> DedupIndex, "media" -> MediaDedupIndex, "ann" -> AnnIndex)
}
