package graft

import java.nio.file.{Files, Paths}

import graft.config.ConfigLoader
import graft.core.IngestionRunner
import graft.dq.MetadataChecks
import graft.schema.SchemaRegistry

/** The shipped examples/ pipeline must stay loadable and runnable — it
  * doubles as living documentation of the config surface. */
class ExamplesSpec extends SparkSpec {
  import spark.implicits._

  test("examples/pipeline.json loads with eager schema validation") {
    val cfg = ConfigLoader.loadFromFile("examples/pipeline.json")
    cfg.env shouldBe "example"
    cfg.jobs.head.dq.get.checks.length shouldBe 4
  }

  test("examples/pipeline.conf (HOCON) builds the same config as the JSON") {
    val j = ConfigLoader.loadFromFile("examples/pipeline.json")
    val h = ConfigLoader.loadFromFile("examples/pipeline.conf")
    h.env shouldBe j.env
    h.schemaRegistry shouldBe j.schemaRegistry
    val (jj, hj) = (j.jobs.head, h.jobs.head)
    hj.copy(dq = None) shouldBe jj.copy(dq = None)
    hj.dq.get.policy shouldBe jj.dq.get.policy
    hj.dq.get.quarantine shouldBe jj.dq.get.quarantine
    // compare compiled checks
    hj.dq.get.checks.map(_.toCheck) shouldBe jj.dq.get.checks.map(_.toCheck)
  }

  test("every shipped .conf example loads with eager schema validation") {
    val confs = new java.io.File("examples").listFiles()
      .filter(_.getName.endsWith(".conf")).map(_.getPath).sorted
    confs.length shouldBe 9
    val byName = confs.map { p =>
      p -> ConfigLoader.loadFromFile(p, schemaBasePath = "examples/schemas")
    }.toMap
    val governed = byName("examples/governed-pipeline.conf")
    governed.watermarkStore shouldBe Some("/tmp/graft-governed/marks.json")
    governed.jobs.head.maskPii shouldBe Some("hash")
    governed.jobs.head.retentionColumn shouldBe Some("signup_date")
    governed.jobs.head.dq.get.metadataChecks shouldBe true
    governed.jobs.head.source.watermarkColumn shouldBe Some("customer_id")
    byName("examples/multi-job-pipeline.conf").jobs.length shouldBe 2
    // version omitted on the first multi-job schema ref -> latest resolves
    byName("examples/multi-job-pipeline.conf").jobs.head.schemaVersion shouldBe None
    byName("examples/payments-kafka-to-iceberg.conf").jobs.head.target.format shouldBe "iceberg"
    byName("examples/cdc-postgres-to-delta.conf").jobs.head.target.identifier should
      startWith("s3a://lakehouse/")
    byName("examples/cdc-postgres-to-delta.conf").jobs.head.source
      .options("maxOffsetsPerTrigger") shouldBe "10000"
    // the split-config example: include pulls the env overlay, and the
    // catalog block becomes spark.sql.catalog.* session conf
    val cat = byName("examples/iceberg-catalog-pipeline.conf")
    cat.env shouldBe "prod"
    cat.catalogs.map(_.name) shouldBe Seq("iceberg")
    cat.catalogs.head.sessionConf("spark.sql.catalog.iceberg") shouldBe
      "org.apache.iceberg.spark.SparkCatalog"
    cat.catalogs.head.sessionConf("spark.sql.catalog.iceberg.warehouse") shouldBe
      "s3a://warehouse/lake"
    cat.jobs.head.target.catalog shouldBe Some("iceberg")
  }

  test("the reference's HOCON shape loads unchanged (user-events-batch)") {
    val cfg = ConfigLoader.loadFromFile("examples/user-events-batch.conf",
      schemaBasePath = "examples/schemas")
    cfg.env shouldBe "staging"
    val job = cfg.jobs.head
    job.domain shouldBe "user_events"
    job.layer shouldBe "bronze" // from target.layer
    job.source.`type` shouldBe "kafka"
    job.source.bootstrapServers shouldBe Some("kafka:9092") // dotted option key
    job.source.topic shouldBe Some("user_events.clicks")    // from subscribe
    job.source.streaming shouldBe false                     // options.streaming
    job.source.options("startingOffsets") shouldBe "earliest"
    job.target.format shouldBe "parquet"                    // lakehouse_format
    job.target.identifier shouldBe "user_events.clicks_bronze" // table
    job.target.catalog shouldBe Some("hive")
    job.target.partitions shouldBe Seq("event_date")
    job.schemaVersion shouldBe Some(1)                      // "v1"
    job.registryDomain shouldBe "user_events"
    job.dq.get.policy shouldBe "quarantine"                 // on_fail
  }

  test("maintenance pipeline runs e2e from HOCON: ingest, compact, z-order") {
    import org.apache.spark.sql.functions._
    rmrf(new java.io.File("/tmp/graft-maint"))
    // a micro-batched table: 24 small files, plus a gold table to z-order
    val orders = graft.tables.Tables.orders(spark, "/root/testdata/sf0.001")
    orders.repartition(24).write.mode("overwrite")
      .parquet("/tmp/graft-maint/in")
    orders.select("o_orderkey", "o_custkey", "o_totalprice")
      .repartition(8).write.mode("overwrite").parquet("/tmp/graft-maint/gold")
    // min-task fixture: a signed batch whose delete wave removes every
    // cheap 'F' order — that HITS the stored group minimum, forcing the
    // repair path — plus the post-delete base the repair scans
    val deleted = col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0
    graft.transform.Ivm.inserts(orders)
      .unionByName(graft.transform.Ivm.retracts(orders.filter(deleted)))
      .write.mode("overwrite").parquet("/tmp/graft-maint/min-batch")
    orders.filter(!deleted).write.mode("overwrite")
      .parquet("/tmp/graft-maint/min-base")
    val cfg = ConfigLoader.loadFromFile("examples/maintenance-pipeline.conf",
      schemaBasePath = "examples/schemas")
    cfg.maintenance.map(_.`type`) shouldBe
      Seq("compact", "zorder", "ivm", "ivm", "ivm")
    cfg.maintenance.map(_.agg).drop(2) shouldBe Seq("group", "min", "topk")
    cfg.maintenance.head.targetFileMb shouldBe 128
    IngestionRunner.runPipeline(spark, cfg)
    // the ingest job appended the 24 input splits; compaction rewrote the
    // table to the byte-sized file count (tiny table -> 1 file)
    graft.lakehouse.Compaction.parquetFileCount(
      spark, "/tmp/graft-maint/orders") shouldBe 1
    spark.read.parquet("/tmp/graft-maint/orders").count() shouldBe orders.count()
    // the z-order rewrite preserved rows and clustered the gold table:
    // each output file covers a narrow o_custkey span
    val gold = spark.read.parquet("/tmp/graft-maint/gold")
    gold.count() shouldBe orders.count()
    gold.schema.fieldNames.toSeq shouldBe Seq("o_orderkey", "o_custkey", "o_totalprice")
    // the ivm task folded the ingested batch into the view state and
    // published the current view: it must equal a direct recompute
    val view = spark.read.parquet("/tmp/graft-maint/view")
      .select(col("o_orderstatus"), col("n_rows"),
        round(col("o_totalprice"), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = orders.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), round(sum(
        col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    view shouldBe direct
    // the MIN view equals a recompute over the post-delete base (the
    // delete wave hit the 'F' minimum → repair path exercised)
    val deletedRows = col("o_orderstatus") === "F" &&
      col("o_totalprice") < 100000.0
    def minSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[String]("o_orderstatus"),
        r.getAs[Double]("min_v"), r.getAs[Long]("n_rows"))).toSet
    minSet(spark.read.parquet("/tmp/graft-maint/min-view")) shouldBe
      minSet(orders.filter(!deletedRows).groupBy(col("o_orderstatus"))
        .agg(min(col("o_totalprice")).as("min_v"),
          count(lit(1)).cast("long").as("n_rows")))
    // the TOP-K view is the per-status top-2 by (price desc, orderkey)
    import org.apache.spark.sql.expressions.Window
    val topDirect = orders
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .filter(col("rn") <= 2).drop("rn")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .collect().map(_.toSeq).toSet
    spark.read.parquet("/tmp/graft-maint/topk-view")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .collect().map(_.toSeq).toSet shouldBe topDirect
    // RERUN the whole pipeline: every ivm task must be idempotent — each
    // fold skips a batch its newest generation already holds; all three
    // views unchanged
    IngestionRunner.runPipeline(spark, cfg)
    spark.read.parquet("/tmp/graft-maint/view")
      .select(col("o_orderstatus"), col("n_rows"),
        round(col("o_totalprice"), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet shouldBe direct
    minSet(spark.read.parquet("/tmp/graft-maint/min-view")) shouldBe
      minSet(orders.filter(!deletedRows).groupBy(col("o_orderstatus"))
        .agg(min(col("o_totalprice")).as("min_v"),
          count(lit(1)).cast("long").as("n_rows")))
    spark.read.parquet("/tmp/graft-maint/topk-view")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .collect().map(_.toSeq).toSet shouldBe topDirect
  }

  test("full-engine pipeline composes ingest + metadata DQ/quarantine + " +
       "PII mask + dedup-index + IVM + profile + compact from one HOCON") {
    import org.apache.spark.sql.functions._
    rmrf(new java.io.File("/tmp/graft-full"))
    Files.createDirectories(Paths.get("/tmp/graft-full/in"))
    // 8 clean docs (two of them near-duplicates), plus three violators the
    // metadata-derived checks must quarantine: a null doc_id (notnull), a
    // disallowed lang (allowed_values), an out-of-range score (max_value)
    val base = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards brew strong potions under a pale winter moon near the old mill"
    def doc(id: String, text: String, email: String, lang: String,
            score: String): String =
      s"""{"doc_id": $id, "text": "$text", "author_email": "$email", """ +
        s""""lang": "$lang", "score": $score}"""
    Files.writeString(Paths.get("/tmp/graft-full/in/docs.json"), Seq(
      doc("1", base, "a@example.com", "en", "0.9"),
      doc("2", base.replace("winter", "summer"), "b@example.com", "en", "0.8"),
      doc("3", "ein ganz anderes dokument ohne gemeinsame woerter im text",
        "c@example.com", "de", "0.7"),
      doc("4", "une phrase differente pour le corpus francophone du test",
        "d@example.com", "fr", "0.6"),
      doc("5", "independent article about distributed query engines at scale",
        "e@example.com", "en", "0.5"),
      doc("6", "another unrelated piece of writing for the profile store",
        "f@example.com", "de", "0.4"),
      doc("7", "short note on incremental view maintenance with z sets",
        "g@example.com", "en", "0.3"),
      doc("8", "final clean document closing out the ingest fixture batch",
        "h@example.com", "fr", "0.2"),
      doc("null", base, "x@example.com", "en", "0.5"),
      doc("10", "bad language row that must be quarantined by the checks",
        "y@example.com", "xx", "0.5"),
      doc("11", "bad score row that must be quarantined by the checks",
        "z@example.com", "en", "1.5")).mkString("\n"))
    val cfg = ConfigLoader.loadFromFile("examples/full-engine-pipeline.conf",
      schemaBasePath = "examples/schemas")
    cfg.maintenance.map(_.`type`) shouldBe
      Seq("dedup-index", "ivm", "profile", "compact")
    IngestionRunner.runPipeline(spark, cfg)
    // 1. governance: 8 clean rows landed, 3 quarantined, emails masked
    val bronze = spark.read.parquet("/tmp/graft-full/bronze")
    bronze.count() shouldBe 8
    spark.read.parquet("/tmp/graft-full/quarantine").count() shouldBe 3
    bronze.select("author_email").as[String].collect()
      .foreach(e => assert(!e.contains("@"), s"unmasked email: $e"))
    // 2. dedup index: the batch is fingerprinted; a NEW near-dup crawl doc
    // matches doc 1/2 against the stored corpus at O(batch) cost
    graft.similarity.DedupIndex.exists(spark, "/tmp/graft-full/dedup-index")
      .shouldBe(true)
    val crawl = Seq((100L, base.replace("pale", "bright")))
      .toDF("doc_id", "text")
    val matches = graft.similarity.DedupIndex.dedupBatch(spark,
      "/tmp/graft-full/dedup-index", crawl, "doc_id", "text")
    matches.count() should be >= 1L
    // 3. ivm view: per-lang counts + score sums equal a direct recompute
    val view = spark.read.parquet("/tmp/graft-full/view")
      .select(col("lang"), col("n_rows"), round(col("score"), 6).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = bronze.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("score")), 6).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    view shouldBe direct
    // 4. profile store: folded per-column stats match the landed bronze
    val prof = graft.metrics.ProfileStore
      .current(spark, "/tmp/graft-full/profiles")
    val byCol = prof.collect().map(r => r.getAs[String]("column") -> r).toMap
    byCol.keySet shouldBe Set("doc_id", "lang", "score")
    byCol("score").getAs[Long]("n_rows") shouldBe 8L
    byCol("score").getAs[String]("min_s").toDouble shouldBe 0.2
    byCol("score").getAs[String]("max_s").toDouble shouldBe 0.9
    byCol("doc_id").getAs[Long]("n_null") shouldBe 0L
    // 5. compaction converged the ingest splits to one file
    graft.lakehouse.Compaction.parquetFileCount(
      spark, "/tmp/graft-full/bronze") shouldBe 1
    // 6. RERUN: every stateful stage is idempotent — view, profile store,
    // and index fingerprint count all unchanged
    // appendAtomic publishes per-batch subdirs -> recursive lookup
    val fpCount = spark.read.option("recursiveFileLookup", "true")
      .parquet("/tmp/graft-full/dedup-index/fingerprints").count()
    IngestionRunner.runPipeline(spark, cfg)
    spark.read.parquet("/tmp/graft-full/view")
      .select(col("lang"), col("n_rows"), round(col("score"), 6).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet shouldBe view
    graft.metrics.ProfileStore.current(spark, "/tmp/graft-full/profiles")
      .filter(col("column") === "score").collect()
      .head.getAs[Long]("n_rows") shouldBe 8L
    spark.read.option("recursiveFileLookup", "true")
      .parquet("/tmp/graft-full/dedup-index/fingerprints")
      .count() shouldBe fpCount
  }

  test("registry schema resolves and yields metadata-derived checks") {
    val schema = new SchemaRegistry("examples/schemas")
      .getSchema("payments", "transactions")
    schema.fieldNames shouldBe Array("transaction_id", "amount", "currency", "merchant")
    val derived = MetadataChecks.fromSchema(schema).map(_.name)
    derived should contain allOf (
      "notnull_transaction_id", "notnull_amount", "range_amount", "allowed_currency")
  }

  private def rmrf(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles.foreach(rmrf)
    p.delete(); ()
  }

  test("metadataChecks derives quarantine enforcement from field metadata") {
    import graft.config._
    rmrf(new java.io.File("/tmp/graft-meta"))
    Files.createDirectories(Paths.get("/tmp/graft-meta/in"))
    // row 2 violates min_value 0.0 on amount, row 3 allowed_values on
    // currency — both constraints live ONLY in the registry schema's
    // field metadata (examples/schemas/payments/transactions/v1.json),
    // not in the job config.
    Files.writeString(Paths.get("/tmp/graft-meta/in/data.json"),
      """{"transaction_id": 1, "amount": 10.5, "currency": "USD", "merchant": "a"}
        |{"transaction_id": 2, "amount": -4.0, "currency": "USD", "merchant": "b"}
        |{"transaction_id": 3, "amount": 7.0, "currency": "ZZZ", "merchant": "c"}""".stripMargin)
    val job = JobConfig(
      domain = "payments", dataset = "transactions", layer = "bronze",
      source = SourceConfig("json", path = Some("/tmp/graft-meta/in")),
      target = TargetConfig("parquet", "/tmp/graft-meta/bronze", mode = "overwrite"),
      dq = Some(DQConfig(policy = "quarantine",
        quarantine = Some("/tmp/graft-meta/quarantine"), metadataChecks = true)))
    val registry = new SchemaRegistry("examples/schemas")
    IngestionRunner.buildJob(job, Some(registry)).run(spark)
    spark.read.parquet("/tmp/graft-meta/bronze")
      .select("transaction_id").as[Long].collect() shouldBe Array(1L)
    spark.read.parquet("/tmp/graft-meta/quarantine").count() shouldBe 2
  }

  test("registry media metadata drives a decodable-fraction DQ gate " +
       "(e2e: corrupt payload quarantined, real codec probe)") {
    import graft.config._
    import graft.multimodal.Multimodal
    rmrf(new java.io.File("/tmp/graft-media-dq"))
    // three genuine media payloads (real PNG + WAV bytes) and one corrupt
    // one declared as PNG — the constraint lives ONLY in the registry
    // schema's field metadata (media_type_column + min_decodable_fraction
    // on content/media_assets), not in the job config
    Seq(
      (1L, Multimodal.encodePng(9, 7, 1L), "image/png", "crawl"),
      (2L, Multimodal.encodePng(5, 5, 2L), "image/png", "crawl"),
      (3L, Multimodal.encodeWav(8000,
        Array.tabulate(40)(t => Multimodal.plantedSample(3L, t, perturb = false))),
        "audio/wav", "crawl"),
      (4L, "truncated garbage".getBytes("UTF-8"), "image/png", "crawl"))
      .toDF("media_id", "payload", "media_type", "source")
      .write.mode("overwrite").parquet("/tmp/graft-media-dq/in")
    val job = JobConfig(
      domain = "content", dataset = "media_assets", layer = "bronze",
      source = SourceConfig("parquet", path = Some("/tmp/graft-media-dq/in")),
      target = TargetConfig("parquet", "/tmp/graft-media-dq/bronze", mode = "overwrite"),
      dq = Some(DQConfig(policy = "quarantine",
        quarantine = Some("/tmp/graft-media-dq/quarantine"),
        metadataChecks = true)))
    val result = IngestionRunner.buildJob(job,
      Some(new SchemaRegistry("examples/schemas"))).run(spark)
    spark.read.parquet("/tmp/graft-media-dq/bronze")
      .select("media_id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
    val quarantined = spark.read.parquet("/tmp/graft-media-dq/quarantine")
    quarantined.select("media_id").as[Long].collect() shouldBe Array(4L)
    quarantined.select("dq_reasons").as[String].collect()
      .head should include("media_payload")
    // the check itself failed the batch: 25% undecodable > the 1% allowance
    val media = result.batchSummary.get.results
      .find(_.check == "media_payload").get
    media.violations shouldBe 1L
    media.status shouldBe graft.dq.DQStatus.Fail
  }

  test("registry pii flags drive masking on write (e2e: masked in the sink)") {
    import graft.config._
    rmrf(new java.io.File("/tmp/graft-pii"))
    Files.createDirectories(Paths.get("/tmp/graft-pii/in"))
    Files.writeString(Paths.get("/tmp/graft-pii/in/data.json"),
      """{"customer_id": 1, "email": "alice@example.com", "full_name": "Alice A", "signup_date": "2026-01-01", "country": "DE"}
        |{"customer_id": 2, "email": null, "full_name": "Bob B", "signup_date": "2026-02-01", "country": "US"}""".stripMargin)
    // pii: true lives ONLY in the registry schema
    // (examples/schemas/payments/customers/v1.json) — the job just opts in
    val job = JobConfig(
      domain = "payments", dataset = "customers", layer = "bronze",
      source = SourceConfig("json", path = Some("/tmp/graft-pii/in")),
      target = TargetConfig("parquet", "/tmp/graft-pii/bronze", mode = "overwrite"),
      maskPii = Some("hash"))
    IngestionRunner.buildJob(job, Some(new SchemaRegistry("examples/schemas"))).run(spark)
    val out = spark.read.parquet("/tmp/graft-pii/bronze")
    val rows = out.orderBy("customer_id")
      .select("customer_id", "email", "full_name", "country").collect()
    rows(0).getString(1) should fullyMatch regex "[0-9a-f]{64}" // sha2-256
    rows(0).getString(2) should fullyMatch regex "[0-9a-f]{64}"
    rows(0).getString(3) shouldBe "DE"   // pii: false passes through
    rows(1).isNullAt(1) shouldBe true    // null preserved, not minted
    out.schema("email").dataType.typeName shouldBe "string" // type contract holds
  }

  test("registry retention_days drives on-write filtering (e2e)") {
    import graft.config._
    rmrf(new java.io.File("/tmp/graft-retention"))
    Files.createDirectories(Paths.get("/tmp/graft-retention/in"))
    // signup_date carries retention_days: 90 in the registry schema; the
    // job only names WHICH column governs the table
    Files.writeString(Paths.get("/tmp/graft-retention/in/data.json"),
      """{"customer_id": 1, "email": "a@x.com", "full_name": "A", "signup_date": "2020-01-01", "country": "DE"}
        |{"customer_id": 2, "email": "b@x.com", "full_name": "B", "signup_date": "2026-08-01", "country": "US"}""".stripMargin)
    val job = JobConfig(
      domain = "payments", dataset = "customers", layer = "bronze",
      source = SourceConfig("json", path = Some("/tmp/graft-retention/in")),
      target = TargetConfig("parquet", "/tmp/graft-retention/bronze", mode = "overwrite"),
      retentionColumn = Some("signup_date"))
    IngestionRunner.buildJob(job, Some(new SchemaRegistry("examples/schemas"))).run(spark)
    spark.read.parquet("/tmp/graft-retention/bronze")
      .select("customer_id").as[Long].collect() shouldBe Array(2L)
  }

  test("retention keeps null-time rows for DQ: a malformed line reaches " +
       "quarantine, an expired row is still dropped") {
    import graft.config._
    val dir = "/tmp/graft-retention-dq"
    rmrf(new java.io.File(dir))
    Files.createDirectories(Paths.get(s"$dir/in"))
    val today = java.time.LocalDate.now()
    Files.writeString(Paths.get(s"$dir/in/data.json"),
      s"""{"customer_id": 1, "email": "old@x.com", "full_name": "Old", "signup_date": "${today.minusDays(400)}", "country": "DE"}
         |{"customer_id": 2, "email": "new@x.com", "full_name": "New", "signup_date": "${today.minusDays(1)}", "country": "US"}
         |{"customer_id": 3, "email": "broken""".stripMargin)
    val job = JobConfig(
      domain = "payments", dataset = "customers", layer = "bronze",
      source = SourceConfig("json", path = Some(s"$dir/in")),
      target = TargetConfig("parquet", s"$dir/bronze", mode = "overwrite"),
      dq = Some(DQConfig(policy = "quarantine",
        quarantine = Some(s"$dir/quarantine"), metadataChecks = true)),
      retentionColumn = Some("signup_date"))
    IngestionRunner.buildJob(job, Some(new SchemaRegistry("examples/schemas"))).run(spark)
    spark.read.parquet(s"$dir/bronze")
      .select("customer_id").as[Long].collect() shouldBe Array(2L)
    val quar = spark.read.parquet(s"$dir/quarantine").collect()
    quar should have length 1
    quar(0).getAs[String]("_corrupt_record") should include("broken")
  }

  test("full governance pipeline: retention + mask + metadata DQ + watermark interact") {
    import graft.config._
    rmrf(new java.io.File("/tmp/graft-governed"))
    Files.createDirectories(Paths.get("/tmp/graft-governed/in"))
    // row 1: expired by retention (never reaches DQ or any sink)
    // row 2: clean and current -> masked into the target
    // row 3: current but violates the registry's NOT NULL on customer_id
    //        -> masked into quarantine
    Files.writeString(Paths.get("/tmp/graft-governed/in/data.json"),
      """{"customer_id": 1, "email": "old@x.com", "full_name": "Old", "signup_date": "2020-01-01", "country": "DE"}
        |{"customer_id": 2, "email": "new@x.com", "full_name": "New", "signup_date": "2026-08-01", "country": "US"}
        |{"customer_id": null, "email": "bad@x.com", "full_name": "Bad", "signup_date": "2026-08-02", "country": "FR"}""".stripMargin)
    val job = JobConfig(
      domain = "payments", dataset = "customers", layer = "silver",
      source = SourceConfig("json", path = Some("/tmp/graft-governed/in"),
        watermarkColumn = Some("customer_id")),
      target = TargetConfig("parquet", "/tmp/graft-governed/silver", mode = "overwrite"),
      dq = Some(DQConfig(policy = "quarantine",
        quarantine = Some("/tmp/graft-governed/quarantine"), metadataChecks = true)),
      maskPii = Some("hash"),
      retentionColumn = Some("signup_date"))
    val store = new graft.io.WatermarkStore("/tmp/graft-governed/marks.json")
    IngestionRunner.buildJob(job, Some(new SchemaRegistry("examples/schemas")),
      Some(store)).run(spark)
    val clean = spark.read.parquet("/tmp/graft-governed/silver").collect()
    clean.map(_.getAs[Long]("customer_id")) shouldBe Array(2L)
    clean(0).getAs[String]("email") should fullyMatch regex "[0-9a-f]{64}"
    // quarantined rows are masked too — rejected data still lands in storage
    val quar = spark.read.parquet("/tmp/graft-governed/quarantine").collect()
    quar should have length 1
    quar(0).getAs[String]("email") should fullyMatch regex "[0-9a-f]{64}"
    // watermark reflects what was read post-retention (max id = 2)
    store.get("payments.customers") shouldBe Some("2")
  }

  test("the example pipeline runs end to end with quarantine") {
    // quarantine appends by design; start from a clean slate
    rmrf(new java.io.File("/tmp/graft-example"))
    Files.createDirectories(Paths.get("/tmp/graft-example/in"))
    Files.writeString(Paths.get("/tmp/graft-example/in/data.json"),
      """{"transaction_id": 1, "amount": 10.5, "currency": "USD", "merchant": "a"}
        |{"transaction_id": 2, "amount": -4.0, "currency": "USD", "merchant": "b"}
        |{"transaction_id": 3, "amount": 7.0, "currency": "ZZZ", "merchant": "c"}""".stripMargin)
    val cfg = ConfigLoader.loadFromFile("examples/pipeline.json")
    val results = IngestionRunner.runPipeline(spark, cfg)
    results.head.batchSummary.get.rowCount shouldBe 3
    spark.read.parquet("/tmp/graft-example/bronze/transactions")
      .select("transaction_id").as[Long].collect() shouldBe Array(1L)
    spark.read.parquet("/tmp/graft-example/quarantine/transactions")
      .count() shouldBe 2
  }
}
