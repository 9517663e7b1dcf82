package graft.config

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.node.{ObjectNode, TextNode}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.dq._
import graft.schema.SchemaRegistry

/** Pipeline configuration: env + ordered jobs (reference
  * `/root/reference/src/main/scala/com/lakehouse/ingestion/config/
  * ConfigModels.scala:41-57`). Two on-disk formats, one binding: JSON and
  * the reference's HOCON `.conf` shape both bind through
  * [[ConfigLoader]]'s Jackson mapper, HOCON after [[Hocon]] parses it and
  * [[HoconConfigLoader]] rewrites the reference's spellings (reference
  * `config/ConfigLoader.scala:35`). Each field, whether it is required,
  * and its default are declared once, on these case classes. Numeric
  * `Option`s name their content type: erasure would otherwise let Jackson
  * box a JSON `5` as an Integer inside `Option[Long]`.
  */
final case class PipelineConfig(env: String = "dev",
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
  * [[graft.core.Commit]] (`publish` = "rename" or "pointer"). `agg` and
  * `publish` match in any case. */
final case class MaintenanceConfig(@JsonProperty(required = true) `type`: String,
                                   @JsonProperty(required = true) path: String,
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
final case class CatalogConfig(@JsonProperty(required = true) name: String,
                               @JsonProperty(required = true) `type`: String,
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

final case class JobConfig(@JsonProperty(required = true) domain: String,
                           @JsonProperty(required = true) dataset: String,
                           layer: String = "bronze",
                           @JsonProperty(required = true) source: SourceConfig,
                           @JsonProperty(required = true) target: TargetConfig,
                           @JsonDeserialize(contentAs = classOf[java.lang.Integer])
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

final case class SourceConfig(@JsonProperty(required = true) `type`: String,
                              path: Option[String] = None,
                              topic: Option[String] = None,
                              bootstrapServers: Option[String] = None,
                              url: Option[String] = None,
                              table: Option[String] = None,
                              streaming: Boolean = false,
                              // JDBC partitioned/incremental read controls
                              // (reference docs/07-developer-guide.md:665-671)
                              partitionColumn: Option[String] = None,
                              @JsonDeserialize(contentAs = classOf[java.lang.Long])
                              lowerBound: Option[Long] = None,
                              @JsonDeserialize(contentAs = classOf[java.lang.Long])
                              upperBound: Option[Long] = None,
                              @JsonDeserialize(contentAs = classOf[java.lang.Integer])
                              numPartitions: Option[Int] = None,
                              watermarkColumn: Option[String] = None,
                              watermarkValue: Option[String] = None,
                              options: Map[String, String] = Map.empty)

final case class TargetConfig(@JsonProperty(required = true) format: String,
                              @JsonProperty(required = true) identifier: String,
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
final case class CheckConfig(@JsonProperty(required = true) `type`: String,
                             column: Option[String] = None,
                             columns: Seq[String] = Seq.empty,
                             @JsonDeserialize(contentAs = classOf[java.lang.Double])
                             min: Option[Double] = None,
                             @JsonDeserialize(contentAs = classOf[java.lang.Double])
                             max: Option[Double] = None,
                             pattern: Option[String] = None,
                             allowed: Seq[String] = Seq.empty,
                             @JsonDeserialize(contentAs = classOf[java.lang.Long])
                             minRows: Option[Long] = None,
                             name: Option[String] = None,
                             sql: Option[String] = None,
                             exact: Boolean = true,
                             typeColumn: Option[String] = None) {

  private def req[A](o: Option[A], what: String): A =
    o.getOrElse(throw new IllegalArgumentException(
      s"check '${`type`}' needs $what"))

  def toCheck: DQCheck = `type`.toLowerCase match {
    case "not_null"       => NotNullCheck(req(column, "column"))
    case "range"          => RangeCheck(req(column, "column"), min, max)
    case "regex"          => RegexCheck(req(column, "column"), req(pattern, "pattern"))
    case "allowed_values" => AllowedValuesCheck(req(column, "column"), allowed)
    case "unique_key"     => UniqueKeyCheck(if (columns.nonEmpty) columns else Seq(req(column, "column or columns")), exact)
    case "row_count_min"  => RowCountCheck(req(minRows, "minRows"))
    case "predicate"      => PredicateCheck(req(name, "name"), req(sql, "sql"))
    case "media_decodable" => MediaDecodableCheck(req(column, "column"),
      req(typeColumn, "typeColumn"), min.getOrElse(1.0))
    case other => throw new IllegalArgumentException(s"unknown check type '$other'")
  }
}

/** Loads + eagerly validates a pipeline config: every job's schema ref must
  * resolve at load time, failing with the expected path (reference
  * `config/ConfigLoader.scala:69-100`). */
object ConfigLoader {

  /** The one binding of both formats. */
  private[config] val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, true)
    m
  }

  final case class ConfigValidationException(message: String)
      extends RuntimeException(message)

  def parse(json: String): PipelineConfig =
    mapper.readValue(json, classOf[PipelineConfig])

  /** Binds a rewritten HOCON tree. Unknown keys are ignored there, as
    * reference configs carry keys the model has no field for
    * (`data_quality.ruleset`); JSON stays strict. */
  private[config] def bindHocon(tree: JsonNode): PipelineConfig =
    mapper.readerFor(classOf[PipelineConfig])
      .without(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
      .readValue[PipelineConfig](tree)

  /** Load a pipeline config — `.conf` parses as HOCON (the reference's
    * format), anything else as JSON. `schemaBasePath` mirrors the
    * reference loader's default registry location for configs of either
    * format that don't name one (`config/ConfigLoader.scala:33`). */
  def loadFromFile(path: String, validateSchemas: Boolean = true,
                   schemaBasePath: String = "schemas"): PipelineConfig = {
    val bound =
      if (path.endsWith(".conf"))
        // parseFile (not parse-the-text): relative `include` directives
        // resolve against the config file's own directory
        HoconConfigLoader.toPipelineConfig(Hocon.parseFile(path))
      else parse(Files.readString(Paths.get(path)))
    val cfg = bound.copy(
      schemaRegistry = bound.schemaRegistry.orElse(Some(schemaBasePath)))
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

/** Rewrites a parsed [[Hocon]] tree to the JSON shape and binds it through
  * [[ConfigLoader]]. Accepts BOTH this engine's field names and the
  * reference's `.conf` shape (`target.lakehouse_format`/`table`,
  * `schema.registry_domain`, `data_quality.on_fail`, source options with
  * dotted keys — `config/ConfigLoader.scala:104-166`), so every shipped
  * reference config loads unchanged. When both spellings are present, the
  * camelCase one wins.
  */
object HoconConfigLoader {
  import Hocon.Obj

  /** Reference spelling -> model field, per block. */
  private val aliases: Map[String, Seq[(String, String)]] = Map(
    "root" -> Seq("schema_registry" -> "schemaRegistry",
      "watermark_store" -> "watermarkStore"),
    "catalog" -> Seq("impl" -> "type"),
    "job" -> Seq("data_quality" -> "dq", "mask_pii" -> "maskPii",
      "retention_column" -> "retentionColumn"),
    "target" -> Seq("lakehouse_format" -> "format", "table" -> "identifier"),
    "dq" -> Seq("warn_only" -> "warnOnly", "metadata_checks" -> "metadataChecks"),
    "check" -> Seq("type_column" -> "typeColumn"),
    "maintenance" -> Seq("target_file_mb" -> "targetFileMb",
      "min_files" -> "minFiles", "view_path" -> "viewPath"))

  /** Source fields the reference spells as `source.options` keys (the
    * first present key wins). */
  private val sourceOptions = Seq("path" -> "path", "topic" -> "subscribe",
    "bootstrapServers" -> "bootstrap.servers",
    "bootstrapServers" -> "kafka.bootstrap.servers", "url" -> "url",
    "table" -> "dbtable", "streaming" -> "streaming",
    "partitionColumn" -> "partitionColumn", "lowerBound" -> "lowerBound",
    "upperBound" -> "upperBound", "numPartitions" -> "numPartitions",
    "watermarkColumn" -> "watermarkColumn", "watermarkValue" -> "watermarkValue")

  def toPipelineConfig(root: Obj): PipelineConfig = {
    val tree = ConfigLoader.mapper.valueToTree[ObjectNode](root)
    rename(tree, "root")
    obj(tree, "catalog").foreach { c =>
      tree.remove("catalog")
      tree.withArrayProperty("catalogs").insert(0, c)
    }
    objects(tree, "catalogs").foreach { c => rename(c, "catalog"); flattenOptions(c) }
    objects(tree, "jobs").foreach(rewriteJob)
    objects(tree, "maintenance").foreach(rename(_, "maintenance"))
    ConfigLoader.bindHocon(tree)
  }

  private def rewriteJob(j: ObjectNode): Unit = {
    rename(j, "job")
    obj(j, "target").foreach { t => rename(t, "target"); move(t, "layer", j, "layer") }
    obj(j, "schema").foreach { s =>
      j.remove("schema")
      // reference versions are "v<N>" strings
      move(s, "version", j, "schemaVersion", v => TextNode.valueOf(v.asText.stripPrefix("v")))
      move(s, "registry_domain", j, "schemaDomain")
      move(s, "registry_dataset", j, "schemaDataset")
    }
    obj(j, "source").foreach { s =>
      val opts = flattenOptions(s)
      sourceOptions.foreach { case (field, key) =>
        opts.get(key).foreach(v => if (!s.hasNonNull(field)) s.put(field, v))
      }
    }
    obj(j, "dq").foreach { d =>
      rename(d, "dq")
      // the reference's policy names are upper case (LOG_ONLY, ...)
      move(d, "on_fail", d, "policy", v => TextNode.valueOf(v.asText.toLowerCase))
      objects(d, "checks").foreach(rename(_, "check"))
    }
  }

  private def rename(o: ObjectNode, block: String): Unit =
    aliases(block).foreach { case (ref, field) => move(o, ref, o, field) }

  /** Moves `from.key` to `to.field` unless `to` already sets that field. */
  private def move(from: ObjectNode, key: String, to: ObjectNode, field: String,
                   f: JsonNode => JsonNode = identity): Unit =
    Option(from.remove(key)).filterNot(_.isNull).foreach(v =>
      if (!to.hasNonNull(field)) to.set[JsonNode](field, f(v)))

  private def obj(o: ObjectNode, k: String): Option[ObjectNode] =
    Option(o.get(k)).collect { case n: ObjectNode => n }

  private def objects(o: ObjectNode, k: String): Seq[ObjectNode] =
    Option(o.get(k)).toSeq.flatMap(_.values.asScala).collect { case n: ObjectNode => n }

  /** Replaces `o.options` by its leaf values under dotted-path keys — how
    * the reference reads `source.options` (`entrySet`, `:110-115`) — and
    * returns them. */
  private def flattenOptions(o: ObjectNode): Map[String, String] = {
    def leaves(n: JsonNode, prefix: String): Seq[(String, String)] =
      n.properties.asScala.toSeq.flatMap { e =>
        val key = if (prefix.isEmpty) e.getKey else s"$prefix.${e.getKey}"
        if (e.getValue.isObject) leaves(e.getValue, key) else Seq(key -> e.getValue.asText)
      }
    obj(o, "options").map { opts =>
      val flat = leaves(opts, "")
      val out = o.putObject("options")
      flat.foreach { case (k, v) => out.put(k, v) }
      flat.toMap
    }.getOrElse(Map.empty)
  }
}
