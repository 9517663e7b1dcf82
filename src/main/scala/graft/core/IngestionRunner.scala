package graft.core

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.GraftSession
import graft.config._
import graft.io.{FileReader, JdbcReader, KafkaReader, KinesisReader, SourceReader}
import graft.lakehouse._
import graft.schema.SchemaRegistry

/** Config-driven pipeline entry point (reference `/root/reference/src/main/
  * scala/com/lakehouse/ingestion/core/IngestionRunner.scala:24-119`).
  * Differences: the DQ ruleset is actually built from config (the reference
  * hardcodes `None`, `:118-119`), and streaming jobs don't block the job
  * loop — all started queries are awaited together at the end
  * (`awaitAnyTermination`; the reference parks inside the first streaming
  * writer, SURVEY.md §3.2).
  */
object IngestionRunner {

  def main(args: Array[String]): Unit = {
    val configPath = parseArgs(args).getOrElse(
      sys.error("usage: IngestionRunner --config <pipeline.json>"))
    val cfg = ConfigLoader.loadFromFile(configPath)
    val spark = GraftSession.local(appName = s"graft-${cfg.env}")
    try runPipeline(spark, cfg)
    finally spark.stop()
  }

  def parseArgs(args: Array[String]): Option[String] =
    args.sliding(2, 1).collectFirst { case Array("--config", p) => p }

  def runPipeline(spark: SparkSession, cfg: PipelineConfig): Seq[JobResult] = {
    // register plugin catalogs FIRST: spark.sql.catalog.<name>.* conf
    // must be on the session before any job references the catalog
    // (plugins instantiate lazily through the CatalogManager)
    cfg.catalogs.foreach(_.applyTo(spark))
    val registry = cfg.schemaRegistry.map(new SchemaRegistry(_))
    val store = cfg.watermarkStore.map(new graft.io.WatermarkStore(_))
    val knownCatalogs = cfg.catalogs.map(_.name).toSet + "spark_catalog"
    val results =
      cfg.jobs.map { j => buildJob(j, registry, store, knownCatalogs).run(spark) }
    // Layout maintenance runs after the batch jobs land (and before any
    // indefinite streaming await), so a pipeline can ingest + compact /
    // z-order its own output in one config.
    cfg.maintenance.foreach(runMaintenance(spark, _))
    // Streaming jobs: await after ALL jobs have started.
    if (results.exists(_.streamingQuery.nonEmpty))
      spark.streams.awaitAnyTermination()
    results
  }

  /** Execute one config-declared maintenance task (compact / zorder / ivm / dedup-index / profile). */
  def runMaintenance(spark: SparkSession,
                     m: graft.config.MaintenanceConfig): Unit = {
    import graft.lakehouse.{Compaction, ZOrder}
    import graft.similarity.BucketedIndex
    m.`type`.toLowerCase match {
      case "compact" if m.partitioned =>
        Compaction.compactPartitioned(spark, m.path, m.targetFileBytes, m.minFiles); ()
      case "compact" =>
        Compaction.compact(spark, m.path, m.targetFileBytes); ()
      case "zorder" =>
        ZOrder.rewrite(spark, m.path, m.columns, m.targetFileBytes, m.bits); ()
      case "ivm" =>
        import org.apache.spark.sql.functions.{col, count, lit, min}
        import graft.transform.Ivm
        val src = m.source.getOrElse(throw new IllegalArgumentException(
          "ivm maintenance task needs a source (signed delta batch path)"))
        if (m.keys.isEmpty) throw new IllegalArgumentException(
          "ivm maintenance task needs keys")
        // batch identity derived from the source path: re-running the same
        // pipeline folds the same batch into the view exactly ONCE
        // (mirrors StreamOps.ivmBatch's micro-batch-id partitions)
        val batchKey = batchKeyFor(src)
        val batch = Ivm.asZ(spark.read.parquet(src))
        def publish(view: org.apache.spark.sql.DataFrame): Unit =
          m.viewPath.foreach(v =>
            view.write.mode("overwrite").parquet(v))
        // Crash-safe snapshot protocol for the stateful (non-invertible)
        // folds: each applied batch publishes a COMPLETE next-state
        // directory holding the fold output plus a `_batch_key` file,
        // made visible by ONE atomic step. There is no window where
        // state is updated but the applied record missing — the record
        // travels inside the published unit, so a crash either leaves
        // the old state fully current (rerun refolds from it) or the new
        // state fully applied (rerun skips). Two publish modes
        // (config `publish`):
        //  - "rename" (default): the unit is `state-<n>`, moved into
        //    place with one directory rename — atomic on POSIX/HDFS.
        //  - "pointer": for object stores WITHOUT atomic directory
        //    rename. The unit is written under a unique name
        //    (`state-p-<n>-<keyhash>`, never renamed), then published by
        //    creating a tiny `_commits/<n>` pointer file
        //    create-no-overwrite (one conditional PUT on S3-like
        //    stores); readers resolve pointers and ignore un-pointed
        //    data dirs, so a crash mid-write leaves only an invisible
        //    orphan that the deterministic rerun overwrites in place.
        val viewRoot = new org.apache.hadoop.fs.Path(m.path)
        lazy val fs =
          viewRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val commitsDir = new org.apache.hadoop.fs.Path(viewRoot, "_commits")
        // rename-protocol snapshots: `state-<n>` directories
        def renameSnapshots(): Seq[(Int, org.apache.hadoop.fs.Path)] =
          if (!fs.exists(viewRoot)) Seq.empty
          else fs.listStatus(viewRoot).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("state-"))
            .flatMap(s => scala.util.Try(
                s.getPath.getName.stripPrefix("state-").toInt).toOption
              .map(_ -> s.getPath))
        // pointer-protocol snapshots: `_commits/<n>` -> data dir name
        def pointerSnapshots(): Seq[(Int, org.apache.hadoop.fs.Path)] =
          if (!fs.exists(commitsDir)) Seq.empty
          else fs.listStatus(commitsDir).toSeq
            .flatMap(s => scala.util.Try(s.getPath.getName.toInt).toOption
              .map(_ -> s.getPath))
            .flatMap { case (n, commit) =>
              val in = fs.open(commit)
              val name =
                try new String(in.readAllBytes(), "UTF-8").trim
                finally in.close()
              val data = new org.apache.hadoop.fs.Path(viewRoot, name)
              if (fs.exists(data)) Some(n -> data) else None
            }
        def stateSnapshots(): Seq[(Int, org.apache.hadoop.fs.Path)] =
          renameSnapshots() ++ pointerSnapshots()
        def batchKeyOf(p: org.apache.hadoop.fs.Path): Option[String] = {
          val f = new org.apache.hadoop.fs.Path(p, "_batch_key")
          if (!fs.exists(f)) None
          else {
            val in = fs.open(f)
            try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
          }
        }
        // legacy flat `state` dir (pre-snapshot layout) reads as the base
        def currentState(): Option[org.apache.hadoop.fs.Path] = {
          val snaps = stateSnapshots()
          if (snaps.nonEmpty) Some(snaps.maxBy(_._1)._2)
          else {
            val legacy = new org.apache.hadoop.fs.Path(viewRoot, "state")
            if (fs.exists(legacy)) Some(legacy) else None
          }
        }
        // Accept the pre-r8 UNSUFFIXED key too: legacy markers/snapshots
        // were written without the sha suffix, and ignoring them would
        // re-fold already-applied batches over pre-existing state (min
        // double-counts n_rows, topk duplicates leaderboard rows).
        def alreadyApplied(key: String): Boolean = {
          val legacy = legacyBatchKeyFor(src)
          stateSnapshots().exists(s => batchKeyOf(s._2)
            .exists(k => k == key || k == legacy)) ||
            Seq(key, legacy).exists(k => fs.exists(new org.apache.hadoop.fs.Path(
              new org.apache.hadoop.fs.Path(viewRoot, "_applied"), k)))
        }
        def writeBatchKey(dir: org.apache.hadoop.fs.Path, key: String): Unit = {
          val out = fs.create(
            new org.apache.hadoop.fs.Path(dir, "_batch_key"), true)
          try out.write(key.getBytes("UTF-8")) finally out.close()
        }
        def publishState(next: org.apache.spark.sql.DataFrame,
                         key: String): Unit = m.publish match {
          case "rename" =>
            val n1 = stateSnapshots().map(_._1).maxOption.getOrElse(0) + 1
            val tmp = new org.apache.hadoop.fs.Path(viewRoot, s".state-tmp-$key")
            fs.delete(tmp, true)
            next.write.mode("overwrite").parquet(tmp.toString)
            writeBatchKey(tmp, key)
            val dest = new org.apache.hadoop.fs.Path(viewRoot, f"state-$n1%06d")
            if (!fs.rename(tmp, dest)) throw new IllegalStateException(
              s"atomic state publish failed: $tmp -> $dest")
          case "pointer" =>
            // unique data-dir name per (n, batch): a crashed attempt left
            // the SAME name un-pointed, so the deterministic rerun
            // overwrites it in place and nothing dangles
            val keySha = java.security.MessageDigest.getInstance("SHA-256")
              .digest(key.getBytes("UTF-8")).take(6)
              .map("%02x".format(_)).mkString
            val n1 = stateSnapshots().map(_._1).maxOption.getOrElse(0) + 1
            val data =
              new org.apache.hadoop.fs.Path(viewRoot, f"state-p-$n1%06d-$keySha")
            fs.delete(data, true)
            next.write.mode("overwrite").parquet(data.toString)
            writeBatchKey(data, key)
            fs.mkdirs(commitsDir)
            val commit = new org.apache.hadoop.fs.Path(commitsDir, f"$n1%06d")
            try {
              // overwrite = false: the create FAILS if another writer
              // committed this n first (conditional-PUT semantics). A
              // lost race means our fold read state that is no longer
              // current — retrying would silently drop the other
              // writer's batch, so surface it instead (stateful folds
              // are single-writer; the pointer's job is detection).
              val out = fs.create(commit, false)
              try out.write(data.getName.getBytes("UTF-8"))
              finally out.close()
            } catch {
              case e: java.io.IOException if fs.exists(commit) =>
                fs.delete(data, true)
                throw new IllegalStateException(
                  s"pointer publish lost a commit race at $commit — " +
                    "another writer folded concurrently; rerun to fold " +
                    "from the new current state", e)
            }
          case other => throw new IllegalArgumentException(
            s"unknown ivm publish mode '$other' (rename/pointer)")
        }
        def readState(): org.apache.spark.sql.DataFrame =
          spark.read.parquet(currentState().getOrElse(
            throw new IllegalStateException(
              s"no state under ${m.path} after fold")).toString)
        m.agg match {
          case "group" =>
            // invertible aggregates: idempotency via partition overwrite.
            // If this source's delta was stored pre-r8 under the
            // UNSUFFIXED key, reuse that key so the dynamic overwrite
            // REPLACES the legacy partition instead of writing a second
            // one (which would double-count the batch in the fold).
            val legacy = legacyBatchKeyFor(src)
            val groupKey =
              if (legacy != batchKey && fs.exists(new org.apache.hadoop.fs.Path(
                  viewRoot, s"${Ivm.BatchCol}=$legacy"))) legacy
              else batchKey
            Ivm.appendIdempotent(
              Ivm.viewDelta(batch, m.keys, m.sums.map(c => c -> col(c))),
              m.path, groupKey)
            publish(Ivm.current(spark, m.path, m.keys))
          case "min" =>
            // non-invertible: fold inserts monoidally, repair retractions
            // from `base`; idempotency + crash safety via the atomic
            // snapshot protocol (a stateful fold can't be replayed by
            // overwriting a partition)
            val value = m.columns.headOption.getOrElse(
              throw new IllegalArgumentException(
                "ivm agg=min needs columns=[<valueColumn>]"))
            if (!alreadyApplied(batchKey)) {
              val kcols = m.keys.map(col)
              val state0 = currentState()
                .map(p => spark.read.parquet(p.toString))
                .getOrElse(batch.limit(0).groupBy(kcols: _*)
                  .agg(min(col(value)).as("min_v"),
                    count(lit(1)).cast("long").as("n_rows")))
              val ins = batch.filter(col(Ivm.MultCol) > 0)
              val rets = batch.filter(col(Ivm.MultCol) < 0)
              val afterIns = Ivm.minInsert(state0, ins, m.keys, value)
              val next =
                if (rets.isEmpty) afterIns
                else {
                  val basePath = m.base.getOrElse(
                    throw new IllegalArgumentException(
                      "ivm agg=min with retractions needs base=<post-delete" +
                        " base table path> for the repair scan"))
                  Ivm.minRetract(afterIns, rets,
                    spark.read.parquet(basePath), m.keys, value)
                    .drop("recomputed")
                }
              publishState(next, batchKey)
            }
            publish(readState())
          case "topk" =>
            // per-key leaderboard: union-then-truncate monoid fold over
            // the spilling heap TopKPerKey (insert-only, like q374)
            val orderCol = m.columns.headOption.getOrElse(
              throw new IllegalArgumentException(
                "ivm agg=topk needs columns=[<orderColumn>, <tiebreak>...]"))
            if (!alreadyApplied(batchKey)) {
              val rows = batch.filter(col(Ivm.MultCol) > 0).drop(Ivm.MultCol)
              val order = col(orderCol).desc +:
                m.columns.tail.map(c => col(c).asc)
              val kcols = m.keys.map(col)
              val topBatch = graft.plans.TopKPerKey.topKPerKey(
                rows, kcols, order, m.k)
              val next = currentState() match {
                case Some(p) => graft.plans.TopKPerKey.topKPerKey(
                  spark.read.parquet(p.toString).unionByName(topBatch),
                  kcols, order, m.k)
                case None => topBatch
              }
              publishState(next, batchKey)
            }
            publish(readState())
          case other => throw new IllegalArgumentException(
            s"unknown ivm agg '$other' (group/min/topk)")
        }
      case "dedup-index" =>
        // build-or-append a document batch into a persistent MinHash-LSH
        // dedup index (the batch twin of StreamOps.dedupIndexSink) —
        // per-batch cost O(batch), never O(corpus). CRASH-ATOMIC since
        // r9: the batch publishes as one renamed `batch-<key>` unit per
        // table, appliedness travels inside it (DedupIndex.appendAtomic);
        // pre-r9 `_applied/` markers still honored. publish="pointer"
        // switches to the object-store-safe _commits protocol (r10).
        val src = m.source.getOrElse(throw new IllegalArgumentException(
          "dedup-index maintenance task needs a source (document batch path)"))
        if (m.columns.length < 2) throw new IllegalArgumentException(
          "dedup-index needs columns=[<idColumn>, <textColumn>]")
        val (idCol, textCol) = (m.columns(0), m.columns(1))
        val key = batchKeyFor(src)
        if (!legacyMarkerApplied(spark, m.path, src) &&
            !graft.similarity.DedupIndex.batchApplied(spark, m.path, key))
          graft.similarity.DedupIndex.appendAtomic(
            spark.read.parquet(src), idCol, textCol, m.path, key,
            publish = m.publish)
      case BucketedIndex.Compact(index) =>
        // dedup/media/ann-index-compact: bucket-preserving small-file
        // rewrite + band_sizes delta fold — the operational other half of
        // the bucketed index layout: every batch append adds ≥1 file per
        // bucket, forever, without this
        index.compact(spark, m.path, m.targetFileBytes); ()
      case "profile-compact" =>
        // fold the append-only profile store to one snapshot; appliedness
        // of every folded batch is preserved as _commits markers
        graft.metrics.ProfileStore.compact(spark, m.path); ()
      case "ivm-prune" =>
        // Prune SUPERSEDED stateful-fold generations: every applied batch
        // publishes a complete next-state snapshot (state-<n> /
        // pointer-published), and the fold only ever reads the LATEST —
        // older generations exist solely so a crash mid-publish keeps a
        // complete predecessor. Keep the newest `keep` (crash grace +
        // debugging), retire the rest; each retired generation's batch
        // key is FIRST re-recorded as an `_applied/<key>` marker (the
        // record alreadyApplied consults), so replaying an old batch
        // still skips after its snapshot is gone. Marker-first ordering
        // makes every crash window safe: marker+snapshot is merely
        // redundant, and the current generation is never touched.
        val root = new org.apache.hadoop.fs.Path(m.path)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(root)) {
          val commitsDir = new org.apache.hadoop.fs.Path(root, "_commits")
          val rename = fs.listStatus(root).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("state-"))
            .flatMap(s => scala.util.Try(
                s.getPath.getName.stripPrefix("state-").toInt).toOption
              .map(n => (n, s.getPath,
                None: Option[org.apache.hadoop.fs.Path])))
          val pointer =
            if (!fs.exists(commitsDir)) Seq.empty
            else fs.listStatus(commitsDir).toSeq
              .flatMap(s => scala.util.Try(s.getPath.getName.toInt).toOption
                .map(_ -> s.getPath))
              .map { case (n, commit) =>
                val in = fs.open(commit)
                val name = try new String(in.readAllBytes(), "UTF-8").trim
                finally in.close()
                (n, new org.apache.hadoop.fs.Path(root, name), Some(commit))
              }
          val retired = (rename ++ pointer).sortBy(_._1)
            .dropRight(math.max(1, m.keep))
          val applied = new org.apache.hadoop.fs.Path(root, "_applied")
          retired.foreach { case (_, data, commit) =>
            val bk = new org.apache.hadoop.fs.Path(data, "_batch_key")
            if (fs.exists(bk)) {
              val in = fs.open(bk)
              val key = try new String(in.readAllBytes(), "UTF-8")
              finally in.close()
              fs.mkdirs(applied)
              val marker = new org.apache.hadoop.fs.Path(applied, key)
              if (!fs.exists(marker)) fs.create(marker, true).close()
            }
            commit.foreach(c => fs.delete(c, false))
            fs.delete(data, true)
            ()
          }
        }
      case BucketedIndex.Rebucket(index) =>
        // dedup/media/ann-index-rebucket: O(index) rewrite to `buckets`
        // buckets from the stored rows (never a corpus re-derivation)
        if (m.buckets <= 0) throw new IllegalArgumentException(
          s"${m.`type`.toLowerCase} needs buckets > 0")
        index.rebucket(spark, m.path, m.buckets)
      case "profile" =>
        // fold a batch's per-column profile into the monoid profile store
        // (one aggregate pass over the batch; the store itself is tiny
        // metadata, merged on read — the data is never re-scanned).
        // CRASH-ATOMIC since r9, same one-renamed-unit protocol;
        // publish="pointer" switches to the _commits protocol (r10).
        val src = m.source.getOrElse(throw new IllegalArgumentException(
          "profile maintenance task needs a source (batch path)"))
        if (m.columns.isEmpty) throw new IllegalArgumentException(
          "profile needs columns=[<col>, ...]")
        val key = batchKeyFor(src)
        if (!legacyMarkerApplied(spark, m.path, src) &&
            !graft.metrics.ProfileStore.batchApplied(spark, m.path, key))
          graft.metrics.ProfileStore.appendAtomic(
            spark.read.parquet(src), m.columns, m.path, key,
            publish = m.publish)
      case other => throw new IllegalArgumentException(
        s"unknown maintenance type '$other' " +
          "(compact/zorder/ivm/dedup-index/profile/dedup-index-compact/" +
          "media-index-compact/ann-index-compact/profile-compact/" +
          "ivm-prune/dedup-index-rebucket/media-index-rebucket/" +
          "ann-index-rebucket)")
    }
  }

  /** Injective batch key for idempotent maintenance folds: sanitized
    * source path + a hash of the RAW path (sanitizing alone can collide —
    * `/a/b` vs `/a_b` — which would silently replace or skip a batch). */
  private def batchKeyFor(src: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(src.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"${legacyBatchKeyFor(src)}-$sha"
  }

  /** The pre-r8 key format (sanitized path, no hash suffix) — still
    * ACCEPTED when checking applied-ness so stores written before the
    * injective-key change don't re-fold their batches; never written. */
  private def legacyBatchKeyFor(src: String): String =
    src.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Pre-r9 stores recorded appliedness as a SEPARATE `_applied/<key>`
    * marker written after the append (not crash-atomic — the reason the
    * protocol moved to appendAtomic's in-unit appliedness). Those markers
    * stay honored on read, under both the sha-suffixed and the pre-r8
    * unsuffixed key formats, so migrated stores never re-append. */
  private def legacyMarkerApplied(spark: SparkSession, path: String,
                                  src: String): Boolean = {
    val applied = new org.apache.hadoop.fs.Path(path, "_applied")
    val fs = applied.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(batchKeyFor(src), legacyBatchKeyFor(src)).exists(k =>
      fs.exists(new org.apache.hadoop.fs.Path(applied, k)))
  }

  def buildJob(j: JobConfig, registry: Option[SchemaRegistry],
               watermarks: Option[graft.io.WatermarkStore] = None,
               knownCatalogs: Set[String] = Set("spark_catalog")): IngestionJob = {
    val schema = registry.filter(_ => j.validateSchema)
      .map(_.getSchema(j.registryDomain, j.registryDataset, j.schemaVersion))
    val reader = buildReader(j, schema, watermarks)
    val writer = buildWriter(j.target.format)
    val layer = MedallionLayer.fromString(j.layer)
    val dqConfig = j.dq
    // dq.metadataChecks folds the registry schema's field metadata
    // (allowed_values / min_value / max_value / pattern / nullability) into
    // the configured rule set — the enforcement the reference documents in
    // its schema JSON but never applies (SURVEY.md §1.2).
    val ruleSet = dqConfig.map { dc =>
      val derived =
        if (dc.metadataChecks)
          schema.map(graft.dq.MetadataChecks.fromSchema).getOrElse(Seq.empty)
        else Seq.empty
      val base = dc.toRuleSet
      base.copy(checks = base.checks ++ derived)
    }.filter(_.checks.nonEmpty)
    // target.catalog qualifies a bare table identifier (the reference's
    // Iceberg writer parses "catalog.namespace.table" from the identifier
    // itself — helm deployments pre-qualify; config-level catalog does the
    // qualification here instead). Paths pass through untouched, and so
    // does an identifier already qualified with ANY registered catalog —
    // re-prefixing "spark_catalog.db.t" with target.catalog="iceberg" would
    // manufacture a 4-part name that only fails later at write time.
    val targetId = j.target.catalog match {
      case Some(cat) if !j.target.identifier.contains("/") &&
          !(knownCatalogs + cat).contains(j.target.identifier.split('.').head) =>
        s"$cat.${j.target.identifier}"
      case _ => j.target.identifier
    }
    IngestionJob(
      domain = j.domain, dataset = j.dataset, layer = layer,
      reader = reader, writer = writer,
      target = LakehouseTable(targetId, layer, j.target.partitions),
      expectedSchema = schema,
      ruleSet = ruleSet,
      quarantine = dqConfig.flatMap(_.quarantine)
        .map(LakehouseTable(_, layer, Seq.empty)),
      mode = parseMode(j.target.mode),
      checkpoint = j.target.checkpoint,
      triggerInterval = j.target.triggerInterval,
      piiMask = j.maskPii.map(graft.dq.PiiMask.Strategy.fromString),
      // close the incremental loop: a successful write advances the stored
      // mark, so the next run's reader (above) starts past this batch
      watermarkAdvance = for {
        store <- watermarks
        column <- j.source.watermarkColumn
      } yield (store, column, s"${j.domain}.${j.dataset}"),
      // API cursor loop: the reader resumed from the stored cursor (see
      // buildReader); persist its new cursor only after the write lands
      postCommit = reader match {
        case a: graft.io.ApiReader if a.cursorStore.nonEmpty =>
          Seq(() => a.commitCursor())
        case _ => Seq.empty
      },
      // retention_days comes from the registry schema's field metadata —
      // config names only WHICH time column governs the table
      retention = for {
        column <- j.retentionColumn
        s <- schema
        days <- graft.lakehouse.Retention.retentionDays(s, column)
      } yield (column, days))
  }

  /** Reader factory by `source.type` (reference `:98-103` supports kafka
    * only; file + jdbc were declared-but-unimplemented, SURVEY.md §2B). */
  def buildReader(j: JobConfig,
                  schema: Option[org.apache.spark.sql.types.StructType],
                  watermarks: Option[graft.io.WatermarkStore] = None): SourceReader = {
    val s = j.source
    def need(o: Option[String], what: String): String =
      o.getOrElse(throw new IllegalArgumentException(
        s"source type '${s.`type`}' needs $what"))
    s.`type`.toLowerCase match {
      case f @ ("parquet" | "csv" | "json" | "text") =>
        FileReader(f, need(s.path, "path"), schema, s.options, s.streaming,
          corruptColumn = if (f == "csv" || f == "json") Some("_corrupt_record") else None)
      case "jdbc" =>
        // Partitioned/incremental read controls reach the reader from
        // config (round-1 gap: only url/table/options were passed, making
        // the documented partitioned read unreachable).
        JdbcReader(need(s.url, "url"), need(s.table, "table"), s.options,
          partitionColumn = s.partitionColumn,
          lowerBound = s.lowerBound, upperBound = s.upperBound,
          numPartitions = s.numPartitions.getOrElse(8),
          // explicit config value wins; otherwise the durable store's
          // last mark for this job (incremental-run path)
          watermark = for {
            c <- s.watermarkColumn
            v <- s.watermarkValue.orElse(
              watermarks.flatMap(_.get(s"${j.domain}.${j.dataset}")))
          } yield (c, v))
      case "kafka" =>
        KafkaReader(
          need(s.bootstrapServers, "bootstrapServers"), need(s.topic, "topic"),
          schema.getOrElse(throw new IllegalArgumentException(
            "kafka source needs a registry schema for payload parsing")),
          s.streaming, options = s.options)
      case "kinesis" =>
        // streaming-only connector: an unset/false streaming flag would
        // otherwise silently come back as a stream (the inverse of the
        // reference's always-readStream Kafka bug) — demand explicitness
        require(s.streaming,
          "kinesis source is streaming-only — set source.streaming = true")
        KinesisReader(
          need(s.options.get("streamName").orElse(s.topic), "streamName"),
          need(s.options.get("region"), "region in options"),
          schema.getOrElse(throw new IllegalArgumentException(
            "kinesis source needs a registry schema for payload parsing")),
          startingPosition =
            s.options.getOrElse("startingPosition", "TRIM_HORIZON"),
          endpointUrl = s.options.get("endpointUrl"),
          options = s.options -- Seq("streamName", "region",
            "startingPosition", "endpointUrl"))
      case "api" =>
        // url = page template ({page} placeholder → parallel page-number
        // mode) or the first page of a cursor chain (options.nextField)
        val u = need(s.url, "url")
        val pagination =
          if (u.contains("{page}"))
            graft.io.Pagination.PageNumber(u,
              start = s.lowerBound.getOrElse(0L),
              maxPages = s.options.get("maxPages").map(_.toInt).getOrElse(1000))
          else
            graft.io.Pagination.Cursor(u,
              nextField = s.options.getOrElse("nextField", "next"),
              maxPages = s.options.get("maxPages").map(_.toInt).getOrElse(10000),
              firstCursor = s.options.getOrElse("firstCursor", ""))
        graft.io.ApiReader(pagination,
          schema.getOrElse(throw new IllegalArgumentException(
            "api source needs a registry schema for record parsing")),
          recordsField = s.options.get("recordsField"),
          fetcher = s.options.get("fetcher") match {
            case Some("file") => graft.io.FileFetcher()
            case _            => graft.io.HttpFetcher()
          },
          parallelism = s.numPartitions.getOrElse(8),
          requestDelayMs =
            s.options.get("requestDelayMs").map(_.toLong).getOrElse(0L),
          // cursor APIs resume from the stored cursor; commit happens
          // post-write via IngestionJob.postCommit
          cursorStore = watermarks.map(st =>
            (st, s"${j.domain}.${j.dataset}.cursor")))
      case other => throw new IllegalArgumentException(s"unknown source type '$other'")
    }
  }

  /** Writer factory by target format (reference `:105-116`). */
  def buildWriter(format: String): SinkWriter = format.toLowerCase match {
    case "parquet" | "s3-parquet"  => ParquetSink()
    case "orc"                     => OrcSink()
    case "delta" | "deltalake"     => DeltaSink()
    case "iceberg"                 => IcebergSink()
    case other => throw new IllegalArgumentException(s"unknown lakehouse format '$other'")
  }

  def parseMode(mode: String): SaveMode = mode.toLowerCase match {
    case "append"        => SaveMode.Append
    case "overwrite"     => SaveMode.Overwrite
    case "ignore"        => SaveMode.Ignore
    case "errorifexists" => SaveMode.ErrorIfExists
    case other => throw new IllegalArgumentException(s"unknown save mode '$other'")
  }
}
