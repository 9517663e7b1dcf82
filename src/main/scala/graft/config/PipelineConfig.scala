package graft.config

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.dq._
import graft.schema.SchemaRegistry

/** Pipeline configuration: env + ordered jobs (reference
  * `/root/reference/src/main/scala/com/lakehouse/ingestion/config/
  * ConfigModels.scala:41-57`). Two on-disk formats, one model: JSON (parses
  * with the Jackson already on Spark's classpath) and the reference's HOCON
  * `.conf` shape via [[Hocon]] + [[HoconConfigLoader]] (reference
  * `config/ConfigLoader.scala:35`).
  */
final case class PipelineConfig(env: String,
                                schemaRegistry: Option[String] = None,
                                // durable high-water-mark file for
                                // incremental sources (io.WatermarkStore)
                                watermarkStore: Option[String] = None,
                                // plugin catalogs to register on the
                                // session before any job runs
                                catalogs: Seq[CatalogConfig] = Seq.empty,
                                jobs: Seq[JobConfig] = Seq.empty,
                                // table-layout maintenance run after the
                                // batch jobs (compaction / z-order rewrite)
                                maintenance: Seq[MaintenanceConfig] = Seq.empty)

/** One maintenance task over a parquet table path — the OPTIMIZE /
  * rewrite_data_files chore as pipeline config instead of an ad-hoc
  * notebook job. `type` is "compact" (small-file rewrite, optionally per
  * partition dir); "zorder" (Morton-order rewrite on `columns`, so min/max
  * stats prune scans filtered on any of them); "ivm" (fold the change
  * batch at `source` into the [[graft.transform.Ivm]] state at `path` —
  * `agg` group/min/topk — and publish the view at `view_path`; the base
  * data is never re-read) or "ivm-prune" (retire superseded min/topk
  * generations, keeping the newest `keep`; replays of pruned batches
  * still skip); "dedup-index" or "profile" (append the batch at `source`)
  * or "profile-compact" (fold the profile store to one snapshot);
  * "<kind>-index-compact" or "<kind>-index-rebucket" (O(index) rewrite to
  * `buckets` when the corpus outgrows the build-time layout) for kind
  * dedup, media or ann. Stateful stores commit through
  * [[graft.core.Commit]] (`publish` = "rename" or "pointer"). Every field,
  * `keep` included, is read from both JSON and HOCON. */
final case class MaintenanceConfig(`type`: String, path: String,
                                   columns: Seq[String] = Seq.empty,
                                   targetFileMb: Int = 128,
                                   partitioned: Boolean = false,
                                   minFiles: Int = 2,
                                   bits: Int = 8,
                                   source: Option[String] = None,
                                   keys: Seq[String] = Seq.empty,
                                   sums: Seq[String] = Seq.empty,
                                   viewPath: Option[String] = None,
                                   agg: String = "group",
                                   base: Option[String] = None,
                                   k: Int = 10,
                                   publish: String = "rename",
                                   buckets: Int = 0,
                                   keep: Int = 2) {
  def targetFileBytes: Long = targetFileMb.toLong * 1024 * 1024
}

/** Plugin-catalog registration. The reference wires its Iceberg Hive
  * catalog through spark-submit conf only (`helm/values.yaml:43-46`:
  * `spark.sql.catalog.iceberg = org.apache.iceberg.spark.SparkCatalog`
  * plus `.type/.uri/.warehouse` option pairs) — so pointing a job at a
  * different catalog means hand-editing deploy values. This makes the
  * same pairs part of PIPELINE config: `name` is the catalog name,
  * `type` is a shorthand (`iceberg`/`delta`) or a fully-qualified
  * `CatalogPlugin` class, `options` become
  * `spark.sql.catalog.<name>.<key>` conf. Catalog plugins resolve
  * LAZILY through the session's CatalogManager, so registering conf at
  * runtime (before first use) is exactly as good as submit-time conf. */
final case class CatalogConfig(name: String, `type`: String,
                               options: Map[String, String] = Map.empty) {

  /** The reference's two deployed catalog plugins get shorthands; any
    * other value is taken as the plugin class itself. */
  def pluginClass: String = `type`.toLowerCase match {
    case "iceberg" => "org.apache.iceberg.spark.SparkCatalog"
    case "delta"   => "org.apache.spark.sql.delta.catalog.DeltaCatalog"
    case _         => `type`
  }

  def sessionConf: Map[String, String] =
    Map(s"spark.sql.catalog.$name" -> pluginClass) ++
      options.map { case (k, v) => s"spark.sql.catalog.$name.$k" -> v }

  def applyTo(spark: org.apache.spark.sql.SparkSession): Unit =
    sessionConf.foreach { case (k, v) => spark.conf.set(k, v) }
}

final case class JobConfig(domain: String, dataset: String, layer: String,
                           source: SourceConfig, target: TargetConfig,
                           schemaVersion: Option[Int] = None,
                           validateSchema: Boolean = true,
                           // registry ref override when it differs from
                           // domain/dataset (reference `schema.registry_*`)
                           schemaDomain: Option[String] = None,
                           schemaDataset: Option[String] = None,
                           dq: Option[DQConfig] = None,
                           // mask registry-flagged pii:true columns on
                           // write: "hash" | "null" | "redact"
                           maskPii: Option[String] = None,
                           // enforce the registry's retention_days for
                           // this time column on every write
                           retentionColumn: Option[String] = None) {
  def registryDomain: String = schemaDomain.getOrElse(domain)
  def registryDataset: String = schemaDataset.getOrElse(dataset)
}

final case class SourceConfig(`type`: String,
                              path: Option[String] = None,
                              topic: Option[String] = None,
                              bootstrapServers: Option[String] = None,
                              url: Option[String] = None,
                              table: Option[String] = None,
                              streaming: Boolean = false,
                              // JDBC partitioned/incremental read controls
                              // (reference docs/07-developer-guide.md:665-671)
                              partitionColumn: Option[String] = None,
                              lowerBound: Option[Long] = None,
                              upperBound: Option[Long] = None,
                              numPartitions: Option[Int] = None,
                              watermarkColumn: Option[String] = None,
                              watermarkValue: Option[String] = None,
                              options: Map[String, String] = Map.empty)

final case class TargetConfig(format: String, identifier: String,
                              partitions: Seq[String] = Seq.empty,
                              mode: String = "append",
                              checkpoint: Option[String] = None,
                              triggerInterval: String = "30 seconds",
                              catalog: Option[String] = None)

final case class DQConfig(policy: String = "log_only",
                          quarantine: Option[String] = None,
                          warnOnly: Seq[String] = Seq.empty,
                          // derive checks from registry-schema field
                          // metadata (allowed_values/min_value/max_value)
                          metadataChecks: Boolean = false,
                          checks: Seq[CheckConfig] = Seq.empty) {

  def toRuleSet: DQRuleSet = DQRuleSet(
    checks.map(_.toCheck),
    policy.toLowerCase match {
      case "fail_fast"  => DQPolicy.FailFast
      case "quarantine" => DQPolicy.QuarantineRows
      case "log_only"   => DQPolicy.LogOnly
      case other => throw new IllegalArgumentException(s"unknown DQ policy '$other'")
    },
    warnOnly.toSet)
}

/** One check definition; `type` selects the [[graft.dq.DQCheck]] subclass —
  * this wiring is what the reference hardcoded to `None`
  * (`core/IngestionRunner.scala:118-119`), leaving its DQ dead. */
final case class CheckConfig(`type`: String,
                             column: Option[String] = None,
                             columns: Seq[String] = Seq.empty,
                             min: Option[Double] = None,
                             max: Option[Double] = None,
                             pattern: Option[String] = None,
                             allowed: Seq[String] = Seq.empty,
                             minRows: Option[Long] = None,
                             name: Option[String] = None,
                             sql: Option[String] = None,
                             exact: Boolean = true,
                             typeColumn: Option[String] = None) {

  private def req[A](o: Option[A], what: String): A =
    o.getOrElse(throw new IllegalArgumentException(
      s"check '${`type`}' needs $what"))

  // Jackson + erasure can leave a boxed Integer inside Option[Double]
  // (e.g. `"min": 0`); normalize through Number without unboxing.
  private def asDouble(o: Option[Double]): Option[Double] =
    o.asInstanceOf[Option[Number]].map(_.doubleValue)
  private def asLong(o: Option[Long]): Option[Long] =
    o.asInstanceOf[Option[Number]].map(_.longValue)

  def toCheck: DQCheck = `type`.toLowerCase match {
    case "not_null"       => NotNullCheck(req(column, "column"))
    case "range"          => RangeCheck(req(column, "column"), asDouble(min), asDouble(max))
    case "regex"          => RegexCheck(req(column, "column"), req(pattern, "pattern"))
    case "allowed_values" => AllowedValuesCheck(req(column, "column"), allowed)
    case "unique_key"     => UniqueKeyCheck(if (columns.nonEmpty) columns else Seq(req(column, "column or columns")), exact)
    case "row_count_min"  => RowCountCheck(req(asLong(minRows), "minRows"))
    case "predicate"      => PredicateCheck(req(name, "name"), req(sql, "sql"))
    case "media_decodable" => MediaDecodableCheck(req(column, "column"),
      req(typeColumn, "typeColumn"), asDouble(min).getOrElse(1.0))
    case other => throw new IllegalArgumentException(s"unknown check type '$other'")
  }
}

/** Loads + eagerly validates a pipeline config: every job's schema ref must
  * resolve at load time, failing with the expected path (reference
  * `config/ConfigLoader.scala:69-100`). */
object ConfigLoader {

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, true)
    m
  }

  final case class ConfigValidationException(message: String)
      extends RuntimeException(message)

  def parse(json: String): PipelineConfig =
    mapper.readValue(json, classOf[PipelineConfig])

  /** Load a pipeline config — `.conf` parses as HOCON (the reference's
    * format), anything else as JSON. `schemaBasePath` mirrors the
    * reference loader's default registry location for configs that don't
    * name one (`config/ConfigLoader.scala:33`). */
  def loadFromFile(path: String, validateSchemas: Boolean = true,
                   schemaBasePath: String = "schemas"): PipelineConfig = {
    val cfg =
      if (path.endsWith(".conf"))
        // parseFile (not parse-the-text): relative `include` directives
        // resolve against the config file's own directory
        HoconConfigLoader.toPipelineConfig(Hocon.parseFile(path), Some(schemaBasePath))
      else parse(Files.readString(Paths.get(path)))
    if (validateSchemas) cfg.schemaRegistry.foreach { base =>
      val registry = new SchemaRegistry(base)
      cfg.jobs.filter(_.validateSchema).foreach { j =>
        try registry.getSchema(j.registryDomain, j.registryDataset, j.schemaVersion)
        catch {
          case e: graft.schema.SchemaNotFoundException =>
            throw ConfigValidationException(
              s"job ${j.domain}/${j.dataset}: ${e.getMessage}")
        }
      }
    }
    cfg
  }
}

/** Maps a parsed [[Hocon]] tree to [[PipelineConfig]]. Accepts BOTH this
  * engine's field names (`target.format`/`identifier`, `dq.policy`, ...)
  * and the reference's `.conf` shape (`target.lakehouse_format`/`table`,
  * `schema.registry_domain`, `data_quality.on_fail`, source options with
  * dotted keys — `config/ConfigLoader.scala:104-166`), so every shipped
  * reference config loads unchanged.
  */
object HoconConfigLoader {
  import Hocon.Obj

  private def fail(msg: String): Nothing =
    throw ConfigLoader.ConfigValidationException(msg)

  private def str(o: Obj, k: String): Option[String] =
    o.get(k).filter(_ != null).map(Hocon.render)
  private def obj(o: Obj, k: String): Option[Obj] =
    o.get(k).collect { case m: Obj => m }
  private def arr(o: Obj, k: String): Seq[Any] =
    o.get(k).collect { case l: List[_] => l }.getOrElse(Nil)
  private def bool(o: Obj, k: String): Option[Boolean] =
    o.get(k).map {
      case b: Boolean => b
      case s => Hocon.render(s).toBoolean
    }
  private def num(o: Obj, k: String): Option[Number] =
    o.get(k).collect {
      case n: Number => n
      case s: String => java.lang.Double.parseDouble(s): java.lang.Double
    }

  /** Leaf values of a (possibly nested) object as dotted-path strings —
    * how the reference reads `source.options` (`entrySet`, `:110-115`). */
  private def flatten(o: Obj, prefix: String = ""): Map[String, String] =
    o.iterator.flatMap { case (k, v) =>
      val key = if (prefix.isEmpty) k else s"$prefix.$k"
      v match {
        case child: Obj => flatten(child, key)
        case leaf       => Map(key -> Hocon.render(leaf))
      }
    }.toMap

  def toPipelineConfig(root: Obj, defaultRegistry: Option[String] = None): PipelineConfig =
    PipelineConfig(
      env = str(root, "env").getOrElse("dev"),
      schemaRegistry = str(root, "schemaRegistry")
        .orElse(str(root, "schema_registry")).orElse(defaultRegistry),
      watermarkStore = str(root, "watermarkStore")
        .orElse(str(root, "watermark_store")),
      catalogs = obj(root, "catalog").map(toCatalog).toSeq ++
        arr(root, "catalogs").collect { case c: Obj => toCatalog(c) },
      jobs = arr(root, "jobs").collect { case j: Obj => toJob(j) },
      maintenance = arr(root, "maintenance").collect {
        case m: Obj => toMaintenance(m) })

  private def toCatalog(c: Obj): CatalogConfig = CatalogConfig(
    name = str(c, "name").getOrElse(fail("catalog needs a name")),
    `type` = str(c, "type").orElse(str(c, "impl"))
      .getOrElse(fail("catalog needs a type (iceberg/delta or a plugin class)")),
    options = obj(c, "options").map(flatten(_)).getOrElse(Map.empty))

  private def toJob(j: Obj): JobConfig = {
    val source = obj(j, "source").getOrElse(fail("job needs a source block"))
    val target = obj(j, "target").getOrElse(fail("job needs a target block"))
    val schemaBlock = obj(j, "schema")
    val opts = obj(source, "options").map(flatten(_)).getOrElse(Map.empty)
    val sc = SourceConfig(
      `type` = str(source, "type").getOrElse(fail("source needs a type")),
      path = str(source, "path").orElse(opts.get("path")),
      topic = str(source, "topic").orElse(opts.get("subscribe")),
      bootstrapServers = str(source, "bootstrapServers")
        .orElse(opts.get("bootstrap.servers")).orElse(opts.get("kafka.bootstrap.servers")),
      url = str(source, "url").orElse(opts.get("url")),
      table = str(source, "table").orElse(opts.get("dbtable")),
      streaming = bool(source, "streaming")
        .orElse(opts.get("streaming").map(_.toBoolean)).getOrElse(false),
      partitionColumn = str(source, "partitionColumn").orElse(opts.get("partitionColumn")),
      lowerBound = num(source, "lowerBound").map(_.longValue)
        .orElse(opts.get("lowerBound").map(_.toLong)),
      upperBound = num(source, "upperBound").map(_.longValue)
        .orElse(opts.get("upperBound").map(_.toLong)),
      numPartitions = num(source, "numPartitions").map(_.intValue)
        .orElse(opts.get("numPartitions").map(_.toInt)),
      watermarkColumn = str(source, "watermarkColumn").orElse(opts.get("watermarkColumn")),
      watermarkValue = str(source, "watermarkValue").orElse(opts.get("watermarkValue")),
      options = opts)
    val tc = TargetConfig(
      format = str(target, "format").orElse(str(target, "lakehouse_format"))
        .getOrElse(fail("target needs format/lakehouse_format")),
      identifier = str(target, "identifier").orElse(str(target, "table"))
        .getOrElse(fail("target needs identifier/table")),
      partitions = arr(target, "partitions").map(Hocon.render),
      mode = str(target, "mode").getOrElse("append"),
      checkpoint = str(target, "checkpoint"),
      triggerInterval = str(target, "triggerInterval").getOrElse("30 seconds"),
      catalog = str(target, "catalog"))
    JobConfig(
      domain = str(j, "domain").getOrElse(fail("job needs a domain")),
      dataset = str(j, "dataset").getOrElse(fail("job needs a dataset")),
      layer = str(j, "layer").orElse(str(target, "layer")).getOrElse("bronze"),
      source = sc, target = tc,
      schemaVersion = num(j, "schemaVersion").map(_.intValue)
        .orElse(schemaBlock.flatMap(str(_, "version")).map(parseVersion)),
      validateSchema = bool(j, "validateSchema").getOrElse(true),
      schemaDomain = schemaBlock.flatMap(str(_, "registry_domain")),
      schemaDataset = schemaBlock.flatMap(str(_, "registry_dataset")),
      dq = obj(j, "dq").orElse(obj(j, "data_quality")).map(toDq),
      maskPii = str(j, "maskPii").orElse(str(j, "mask_pii")),
      retentionColumn = str(j, "retentionColumn").orElse(str(j, "retention_column")))
  }

  /** "v1" / "1" -> 1 (reference versions are "v<N>" strings). */
  private def parseVersion(v: String): Int =
    v.stripPrefix("v").toInt

  private def toMaintenance(m: Obj): MaintenanceConfig = MaintenanceConfig(
    `type` = str(m, "type").getOrElse(fail("maintenance task needs a type")),
    path = str(m, "path").getOrElse(fail("maintenance task needs a path")),
    columns = arr(m, "columns").map(Hocon.render),
    targetFileMb = num(m, "targetFileMb").orElse(num(m, "target_file_mb"))
      .map(_.intValue).getOrElse(128),
    partitioned = bool(m, "partitioned").getOrElse(false),
    minFiles = num(m, "minFiles").orElse(num(m, "min_files"))
      .map(_.intValue).getOrElse(2),
    bits = num(m, "bits").map(_.intValue).getOrElse(8),
    source = str(m, "source"),
    keys = arr(m, "keys").map(Hocon.render),
    sums = arr(m, "sums").map(Hocon.render),
    viewPath = str(m, "viewPath").orElse(str(m, "view_path")),
    agg = str(m, "agg").map(_.toLowerCase).getOrElse("group"),
    base = str(m, "base"),
    k = num(m, "k").map(_.intValue).getOrElse(10),
    publish = str(m, "publish").map(_.toLowerCase).getOrElse("rename"),
    buckets = num(m, "buckets").map(_.intValue).getOrElse(0),
    keep = num(m, "keep").map(_.intValue).getOrElse(2))

  private def toDq(d: Obj): DQConfig = DQConfig(
    policy = str(d, "policy").orElse(str(d, "on_fail"))
      .map(_.toLowerCase).getOrElse("log_only"),
    quarantine = str(d, "quarantine"),
    warnOnly = (arr(d, "warnOnly") match {
      case Nil => arr(d, "warn_only") // reference snake_case spelling
      case xs  => xs
    }).map(Hocon.render),
    metadataChecks = bool(d, "metadataChecks")
      .orElse(bool(d, "metadata_checks")).getOrElse(false),
    checks = arr(d, "checks").collect { case c: Obj => toCheck(c) })

  private def toCheck(c: Obj): CheckConfig = CheckConfig(
    `type` = str(c, "type").getOrElse(fail("check needs a type")),
    column = str(c, "column"),
    columns = arr(c, "columns").map(Hocon.render),
    min = num(c, "min").map(_.doubleValue),
    max = num(c, "max").map(_.doubleValue),
    pattern = str(c, "pattern"),
    allowed = arr(c, "allowed").map(Hocon.render),
    minRows = num(c, "minRows").map(_.longValue),
    name = str(c, "name"),
    sql = str(c, "sql"),
    exact = bool(c, "exact").getOrElse(true),
    typeColumn = str(c, "typeColumn").orElse(str(c, "type_column")))
}
