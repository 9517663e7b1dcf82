package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

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
      sys.error("usage: IngestionRunner --config <pipeline.conf|pipeline.json>"))
    val cfg = ConfigLoader.loadFromFile(configPath)
    val spark = GraftSession.local(appName = s"graft-${cfg.env}")
    try runPipeline(spark, cfg)
    finally spark.stop()
  }

  def parseArgs(args: Array[String]): Option[String] =
    args.sliding(2, 1).collectFirst { case Array("--config", p) => p }

  def runPipeline(spark: SparkSession, cfg: PipelineConfig): Seq[JobResult] = {
    // a maintenance config error must fail the run before any job writes
    val maintenance = cfg.maintenance.map(maintenanceTask)
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
    maintenance.foreach(_(spark))
    // Streaming jobs: await after ALL jobs have started.
    if (results.exists(_.streamingQuery.nonEmpty))
      spark.streams.awaitAnyTermination()
    results
  }

  /** Execute one config-declared maintenance task. */
  def runMaintenance(spark: SparkSession, m: MaintenanceConfig): Unit =
    maintenanceTask(m)(spark)

  /** A maintenance task whose config is checked: only running it is left. */
  private type MaintenanceTask = SparkSession => Unit

  /** Resolve config task `m` to the call that runs it. Every config error
    * (unknown `type` or `agg`; missing `source`, `keys`, `columns` or
    * `buckets`) surfaces here, before anything runs. */
  private def maintenanceTask(m: MaintenanceConfig): MaintenanceTask =
    tasks.getOrElse(m.`type`.toLowerCase, throw new IllegalArgumentException(
      s"unknown maintenance type '${m.`type`}' (${tasks.keys.toSeq.sorted.mkString("/")})"))(m)

  private def source(m: MaintenanceConfig, what: String): String =
    m.source.getOrElse(throw new IllegalArgumentException(
      s"${m.`type`} maintenance task needs a source ($what)"))

  /** Retire the fold store's generations older than the newest `keep`. */
  private def prune(m: MaintenanceConfig): MaintenanceTask =
    spark => Commit(spark, m.path).prune(m.keep)

  private lazy val tasks: Map[String, MaintenanceConfig => MaintenanceTask] = {
    import graft.similarity.{BucketedIndex, DedupIndex}
    import graft.metrics.ProfileStore
    Map[String, MaintenanceConfig => MaintenanceTask](
      "compact" -> (m => spark =>
        if (m.partitioned)
          Compaction.compactPartitioned(spark, m.path, m.targetFileBytes, m.minFiles)
        else Compaction.compact(spark, m.path, m.targetFileBytes)),
      "zorder" -> (m => spark =>
        ZOrder.rewrite(spark, m.path, m.columns, m.targetFileBytes, m.bits)),
      "ivm" -> ivmTask,
      "ivm-prune" -> prune,
      // build-or-append a document batch into a persistent MinHash-LSH
      // dedup index (the batch twin of StreamOps.dedupIndexBatch) —
      // per-batch cost O(batch), never O(corpus); applied once, whether
      // recorded by its commit or by a pre-r9 marker
      "dedup-index" -> { m =>
        val src = source(m, "document batch path")
        require(m.columns.length >= 2,
          "dedup-index needs columns=[<idColumn>, <textColumn>]")
        spark => {
          val key = Commit.batchKeyFor(src)
          if (!Commit(spark, m.path).markerApplied(src) &&
              !DedupIndex.batchApplied(spark, m.path, key))
            DedupIndex.appendAtomic(spark.read.parquet(src), m.columns(0),
              m.columns(1), m.path, key)
        }
      },
      // fold a batch's per-column profile into the monoid profile store
      // (one aggregate pass over the batch; the data is never re-scanned)
      "profile" -> { m =>
        val src = source(m, "batch path")
        require(m.columns.nonEmpty, "profile needs columns=[<col>, ...]")
        spark => ProfileStore.fold(spark, m.path, src, m.columns)(
          spark.read.parquet(src))
      },
      "profile-compact" -> prune
    ) ++ BucketedIndex.kinds.flatMap { case (kind, index) =>
      Seq[(String, MaintenanceConfig => MaintenanceTask)](
        // bucket-preserving small-file rewrite + band_sizes delta fold:
        // every batch append adds ≥1 file per bucket, forever, without it
        s"$kind-index-compact" -> (m => spark =>
          index.compact(spark, m.path, m.targetFileBytes)),
        // O(index) rewrite to `buckets` buckets from the stored rows
        s"$kind-index-rebucket" -> { m =>
          require(m.buckets > 0, s"$kind-index-rebucket needs buckets > 0")
          spark => index.rebucket(spark, m.path, m.buckets)
        })
    }
  }

  /** Incremental view maintenance: fold the change batch at `source` into
    * the state at `path` once, however often the pipeline reruns, and
    * publish the folded view at `view_path`. */
  private def ivmTask(m: MaintenanceConfig): MaintenanceTask = {
    import graft.transform.Ivm
    val src = source(m, "signed delta batch path")
    require(m.keys.nonEmpty, "ivm maintenance task needs keys")
    def needColumns(what: String) =
      require(m.columns.nonEmpty, s"ivm agg=${m.agg} needs columns=[$what]")
    val fold: DataFrame => DataFrame = m.agg.toLowerCase match {
      case "group" => Ivm.foldGroup(_, src, m.path, m.keys, m.sums)
      case "min" =>
        needColumns("<valueColumn>")
        Ivm.foldMin(_, src, m.path, m.keys, m.columns.head, m.base)
      case "topk" =>
        needColumns("<orderColumn>, <tiebreak>...")
        Ivm.foldTopK(_, src, m.path, m.keys, m.columns, m.k)
      case other => throw new IllegalArgumentException(
        s"unknown ivm agg '$other' (group/min/topk)")
    }
    spark => {
      val view = fold(spark.read.parquet(src))
      m.viewPath.foreach(v => view.write.mode("overwrite").parquet(v))
    }
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
