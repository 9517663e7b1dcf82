package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode

import graft.catalog.{NoopCatalogAdapter, SparkCatalogAdapter}
import graft.config.ConfigLoader
import graft.core._
import graft.dq._
import graft.io.FileReader
import graft.lakehouse.{LakehouseTable, ParquetSink}

class IngestionSpec extends SparkSpec {
  import spark.implicits._

  private def writeSource(dir: String): Unit =
    Seq(
      (1L, 10.0, "USD"), (2L, -3.0, "USD"), (3L, 5.0, "EUR"), (4L, 7.0, "XXX"),
    ).toDF("id", "amount", "currency")
      .write.mode(SaveMode.Overwrite).parquet(dir)

  test("batch job: read -> DQ quarantine -> write clean + quarantined") {
    val src = tmpDir("job") + "/src"
    val out = tmpDir("job") + "/bronze"
    val quar = tmpDir("job") + "/quarantine"
    writeSource(src)
    val job = IngestionJob(
      domain = "payments", dataset = "tx", layer = MedallionLayer.Bronze,
      reader = FileReader("parquet", src),
      writer = ParquetSink(),
      target = LakehouseTable(out, MedallionLayer.Bronze),
      ruleSet = Some(DQRuleSet(
        Seq(RangeCheck("amount", Some(0.0), None),
          AllowedValuesCheck("currency", Seq("USD", "EUR"))),
        DQPolicy.QuarantineRows)),
      quarantine = Some(LakehouseTable(quar, MedallionLayer.Bronze)))
    val result = job.run(spark)
    result.streamingQuery shouldBe None
    result.batchSummary.get.overall shouldBe DQStatus.Fail
    spark.read.parquet(out).count() shouldBe 2 // ids 1, 3
    val q = spark.read.parquet(quar)
    q.count() shouldBe 2 // ids 2 (range), 4 (allowed)
    q.columns should contain("dq_reasons")
  }

  test("batch job without DQ writes everything") {
    val src = tmpDir("plain") + "/src"
    val out = tmpDir("plain") + "/out"
    writeSource(src)
    val job = IngestionJob("d", "s", MedallionLayer.Bronze,
      FileReader("parquet", src), ParquetSink(),
      LakehouseTable(out, MedallionLayer.Bronze))
    job.run(spark)
    spark.read.parquet(out).count() shouldBe 4
  }

  test("config-driven runner ingests to ORC: format string -> OrcSink ->" +
      " real .orc files") {
    val src = tmpDir("orc-run") + "/src"
    val out = tmpDir("orc-run") + "/out"
    writeSource(src)
    val cfgJson =
      s"""{"env": "test", "jobs": [{
         |  "domain": "payments", "dataset": "tx", "layer": "bronze",
         |  "validateSchema": false,
         |  "source": {"type": "parquet", "path": "$src"},
         |  "target": {"format": "orc", "identifier": "$out", "mode": "overwrite"}
         |}]}""".stripMargin
    val f = Paths.get(tmpDir("orc-runcfg"), "p.json")
    Files.writeString(f, cfgJson)
    IngestionRunner.runPipeline(spark, ConfigLoader.loadFromFile(f.toString))
      .length shouldBe 1
    val back = spark.read.orc(out)
    back.count() shouldBe 4
    new java.io.File(out).listFiles().map(_.getName)
      .count(_.endsWith(".orc")) should be >= 1
  }

  test("config-driven runner executes a pipeline end to end") {
    val src = tmpDir("runner") + "/src"
    val out = tmpDir("runner") + "/out"
    writeSource(src)
    val cfgJson =
      s"""{"env": "test", "jobs": [{
         |  "domain": "payments", "dataset": "tx", "layer": "bronze",
         |  "validateSchema": false,
         |  "source": {"type": "parquet", "path": "$src"},
         |  "target": {"format": "parquet", "identifier": "$out", "mode": "overwrite"},
         |  "dq": {"policy": "log_only",
         |         "checks": [{"type": "not_null", "column": "id"}]}
         |}]}""".stripMargin
    val f = Paths.get(tmpDir("runnercfg"), "p.json")
    Files.writeString(f, cfgJson)
    val results = IngestionRunner.runPipeline(spark, ConfigLoader.loadFromFile(f.toString))
    results.length shouldBe 1
    results.head.batchSummary.get.results.head.violations shouldBe 0
    spark.read.parquet(out).count() shouldBe 4
  }

  test("a bad maintenance task fails runPipeline before any job writes") {
    import graft.config._
    val root = tmpDir("graft-bad-maint")
    writeSource(s"$root/src")
    val out = s"$root/out"
    def pipeline(m: MaintenanceConfig) = PipelineConfig(env = "test",
      jobs = Seq(JobConfig(domain = "payments", dataset = "tx",
        layer = "bronze", validateSchema = false,
        source = SourceConfig("parquet", path = Some(s"$root/src")),
        target = TargetConfig("parquet", out, mode = "overwrite"))),
      maintenance = Seq(m))
    for (m <- Seq(
        MaintenanceConfig(`type` = "nope", path = s"$root/st"),
        MaintenanceConfig(`type` = "ivm", path = s"$root/view-state",
          keys = Seq("currency"), sums = Seq("amount"))))
      withClue(s"${m.`type`}: ") {
        an[IllegalArgumentException] should be thrownBy
          IngestionRunner.runPipeline(spark, pipeline(m))
        new java.io.File(out).exists() shouldBe false
      }
  }

  test("watermark advances after a successful batch write (incremental loop)") {
    val src = tmpDir("wm") + "/src"
    val out = tmpDir("wm") + "/out"
    writeSource(src)
    val store = new graft.io.WatermarkStore(tmpDir("wmstore") + "/marks.json")
    val job = IngestionJob("d", "s", MedallionLayer.Bronze,
      FileReader("parquet", src), ParquetSink(),
      LakehouseTable(out, MedallionLayer.Bronze),
      watermarkAdvance = Some((store, "id", "d.s")))
    job.run(spark)
    // the mark is the batch max, so the next incremental read starts past it
    store.get("d.s") shouldBe Some("4")
  }

  test("quarantine split with NO quarantine sink advances the mark from clean rows only") {
    val src = tmpDir("wmq") + "/src"
    val out = tmpDir("wmq") + "/out"
    writeSource(src) // clean ids 1,3; bad ids 2,4
    val store = new graft.io.WatermarkStore(tmpDir("wmqstore") + "/marks.json")
    val job = IngestionJob("d", "s", MedallionLayer.Bronze,
      FileReader("parquet", src), ParquetSink(),
      LakehouseTable(out, MedallionLayer.Bronze),
      ruleSet = Some(DQRuleSet(
        Seq(RangeCheck("amount", Some(0.0), None),
          AllowedValuesCheck("currency", Seq("USD", "EUR"))),
        DQPolicy.QuarantineRows)),
      quarantine = None, // bad rows are stored NOWHERE in this config...
      watermarkAdvance = Some((store, "id", "d.s")))
    job.run(spark)
    // ...so the mark must not move past them: clean max (3), not read max (4)
    store.get("d.s") shouldBe Some("3")
  }

  test("runPipeline threads the watermark store through config (advance wired)") {
    val src = tmpDir("wmloop") + "/src"
    val out = tmpDir("wmloop") + "/out"
    val marks = tmpDir("wmloop") + "/marks.json"
    writeSource(src)
    val cfgJson =
      s"""{"env": "test", "watermarkStore": "$marks", "jobs": [{
         |  "domain": "payments", "dataset": "tx", "layer": "bronze",
         |  "validateSchema": false,
         |  "source": {"type": "parquet", "path": "$src", "watermarkColumn": "id"},
         |  "target": {"format": "parquet", "identifier": "$out", "mode": "overwrite"}
         |}]}""".stripMargin
    val f = Paths.get(tmpDir("wmloopcfg"), "p.json")
    Files.writeString(f, cfgJson)
    IngestionRunner.runPipeline(spark, ConfigLoader.loadFromFile(f.toString))
    new graft.io.WatermarkStore(marks).get("payments.tx") shouldBe Some("4")
  }

  test("piiMask hashes flagged strings, nulls non-strings, keeps the rest") {
    import org.apache.spark.sql.types._
    import graft.dq.PiiMask
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("email", StringType, nullable = true,
        metadata = new MetadataBuilder().putBoolean("pii", true).build()),
      StructField("age", IntegerType, nullable = true,
        metadata = new MetadataBuilder().putBoolean("pii", true).build()),
      StructField("country", StringType, nullable = true,
        metadata = new MetadataBuilder().putBoolean("pii", false).build())))
    val df = Seq((1L, "a@example.com", 30, "DE"), (2L, null.asInstanceOf[String], 41, "US"))
      .toDF("id", "email", "age", "country")
    val out = PiiMask.mask(df, schema).orderBy("id").collect()
    out(0).getString(1) should fullyMatch regex "[0-9a-f]{64}" // sha2-256, type kept
    out(0).getString(1) should not be "a@example.com"
    out(0).getInt(2) should not be 30  // integral pii: xxhash64 fold, type kept
    out(0).getInt(2) should be >= 0    // ...and still joinable (deterministic)
    out(0).getString(3) shouldBe "DE"  // pii:false untouched
    out(1).isNullAt(1) shouldBe true   // null stays null (no minted hash)
    // deterministic: same input -> same digest (joinability survives)
    PiiMask.mask(df, schema).orderBy("id").collect()(0).getString(1) shouldBe
      out(0).getString(1)
    // redact strategy scrubs embedded pii instead of replacing the value
    val red = PiiMask.mask(df, schema,
      PiiMask.Strategy.RedactText(PiiMask.Strategy.defaultRules))
      .orderBy("id").collect()
    red(0).getString(1) shouldBe "<EMAIL>"
    an[IllegalArgumentException] should be thrownBy
      PiiMask.Strategy.fromString("rot13")
    // keyed hash: deterministic, but NOT equal to the unsalted digest —
    // the salt defeats dictionary attacks on low-entropy values
    PiiMask.Strategy.fromString("hash:S3cret") shouldBe
      PiiMask.Strategy.KeyedHash("S3cret")
    val keyed = PiiMask.mask(df, schema, PiiMask.Strategy.KeyedHash("S3cret"))
      .orderBy("id").collect()
    keyed(0).getString(1) should fullyMatch regex "[0-9a-f]{64}"
    keyed(0).getString(1) should not be out(0).getString(1)
    keyed(0).getInt(2) should not be out(0).getInt(2)
    keyed(1).isNullAt(1) shouldBe true
  }

  test("streaming job: file source, per-micro-batch DQ, non-blocking") {
    val src = tmpDir("stream") + "/in"
    val out = tmpDir("stream") + "/out"
    val quar = tmpDir("stream") + "/quar"
    val cp = tmpDir("stream") + "/cp"
    Files.createDirectories(Paths.get(src))
    val schema = Seq((1L, 1.0)).toDF("id", "amount").schema
    val job = IngestionJob(
      "events", "clicks", MedallionLayer.Bronze,
      FileReader("parquet", src, Some(schema), streaming = true),
      ParquetSink(),
      LakehouseTable(out, MedallionLayer.Bronze),
      ruleSet = Some(DQRuleSet(Seq(RangeCheck("amount", Some(0.0), None)),
        DQPolicy.QuarantineRows)),
      quarantine = Some(LakehouseTable(quar, MedallionLayer.Bronze)),
      checkpoint = Some(cp), triggerInterval = "1 seconds")
    // stage a file BEFORE starting so the first batch has data
    Seq((1L, 5.0), (2L, -1.0)).toDF("id", "amount")
      .write.mode(SaveMode.Overwrite).parquet(src)
    val result = job.run(spark)
    val query = result.streamingQuery.get
    try {
      query.processAllAvailable()
      spark.read.parquet(out).as[(Long, Double)].collect().toSet shouldBe Set((1L, 5.0))
      spark.read.parquet(quar).count() shouldBe 1
    } finally query.stop()
  }

  test("streaming job masks pii per micro-batch (foreachBatch path)") {
    import org.apache.spark.sql.types._
    val in = tmpDir("spii") + "/in"
    val out = tmpDir("spii") + "/out"
    val cp = tmpDir("spii") + "/cp"
    Files.createDirectories(Paths.get(in))
    Seq((1L, "alice@x.com"), (2L, "bob@y.org")).toDF("id", "email")
      .write.mode(SaveMode.Overwrite).parquet(in)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("email", StringType, nullable = true,
        metadata = new MetadataBuilder().putBoolean("pii", true).build())))
    val job = IngestionJob("d", "s", MedallionLayer.Bronze,
      FileReader("parquet", in, schema = Some(schema), streaming = true),
      ParquetSink(),
      LakehouseTable(out, MedallionLayer.Bronze),
      expectedSchema = Some(schema),
      checkpoint = Some(cp),
      triggerInterval = "1 seconds",
      piiMask = Some(graft.dq.PiiMask.Strategy.Hash))
    val q = job.run(spark).streamingQuery.get
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(out).orderBy("id").collect()
    rows should have length 2
    all(rows.map(_.getString(1))) should fullyMatch regex "[0-9a-f]{64}"
  }

  test("catalog adapters: spark-backed works, noop does nothing") {
    val cat = new SparkCatalogAdapter(spark)
    cat.tableExists("definitely_not_here") shouldBe false
    val schema = Seq((1L, "x")).toDF("id", "v").schema
    cat.createTableIfNotExists("graft_cat_tbl", schema, Seq.empty)
    cat.tableExists("graft_cat_tbl") shouldBe true
    spark.sql("DROP TABLE graft_cat_tbl")
    NoopCatalogAdapter.tableExists("anything") shouldBe false
  }

  test("runPipeline registers plugin catalogs; qualified DDL resolves via catalogManager") {
    val src = tmpDir("catreg") + "/src"
    val out = tmpDir("catreg") + "/out"
    writeSource(src)
    val cfgJson =
      s"""{"env": "test",
         |  "catalogs": [{"name": "extcat", "type": "iceberg",
         |    "options": {"type": "hive", "uri": "thrift://ms:9083"}}],
         |  "jobs": [{
         |  "domain": "d", "dataset": "s", "layer": "bronze",
         |  "validateSchema": false,
         |  "source": {"type": "parquet", "path": "$src"},
         |  "target": {"format": "parquet", "identifier": "$out", "mode": "overwrite"}
         |}]}""".stripMargin
    val f = Paths.get(tmpDir("catregcfg"), "p.json")
    Files.writeString(f, cfgJson)
    IngestionRunner.runPipeline(spark, ConfigLoader.loadFromFile(f.toString))
    // the catalog conf pairs are on the session (plugins instantiate only
    // on first reference, so an unreachable metastore costs nothing here)
    spark.conf.get("spark.sql.catalog.extcat") shouldBe
      "org.apache.iceberg.spark.SparkCatalog"
    spark.conf.get("spark.sql.catalog.extcat.uri") shouldBe "thrift://ms:9083"
    spark.read.parquet(out).count() shouldBe 4
    // ...and the adapter's catalog-QUALIFIED identifiers route through the
    // session's catalog manager (here against the built-in catalog)
    val cat = new SparkCatalogAdapter(spark)
    val schema = Seq((1L, "x")).toDF("id", "v").schema
    cat.createTableIfNotExists("spark_catalog.default.cat_e2e", schema, Seq.empty)
    cat.tableExists("spark_catalog.default.cat_e2e") shouldBe true
    spark.sql("DROP TABLE spark_catalog.default.cat_e2e")
  }

  test("checkpoint path derivation matches the reference layout") {
    IngestionJob("d", "s", MedallionLayer.Gold,
      FileReader("parquet", "/x"), ParquetSink(),
      LakehouseTable("/y", MedallionLayer.Gold))
      .defaultCheckpoint shouldBe "/tmp/checkpoints/d/s/gold"
  }

  test("ivm batch keys are injective: sources that SANITIZE identically " +
       "fold as distinct batches (no silent replace or skip)") {
    import org.apache.spark.sql.functions._
    // /deltas/b1 and /deltas_b1 both sanitize to _deltas_b1 — before the
    // raw-path hash suffix, the second group-fold silently REPLACED the
    // first one's partition and min/topk skipped the second batch entirely
    val root = tmpDir("graft-ivm-inj")
    val a = s"$root/deltas/b1"
    val b = s"$root/deltas_b1"
    Seq(("x", 10L), ("y", 5L)).toDF("k", "v")
      .write.mode("overwrite").parquet(a)
    Seq(("x", 7L), ("z", 2L)).toDF("k", "v")
      .write.mode("overwrite").parquet(b)
    def task(src: String, agg: String) = graft.config.MaintenanceConfig(
      `type` = "ivm", path = s"$root/state-$agg", source = Some(src),
      keys = Seq("k"), sums = if (agg == "group") Seq("v") else Seq.empty,
      columns = if (agg == "group") Seq.empty else Seq("v"), agg = agg,
      viewPath = Some(s"$root/view-$agg"))
    for (agg <- Seq("group", "min")) {
      IngestionRunner.runMaintenance(spark, task(a, agg))
      IngestionRunner.runMaintenance(spark, task(b, agg))
    }
    val grp = spark.read.parquet(s"$root/view-group")
      .collect().map(r => r.getAs[String]("k") ->
        r.getAs[Number]("v").longValue()).toMap
    grp shouldBe Map("x" -> 17L, "y" -> 5L, "z" -> 2L)
    val mn = spark.read.parquet(s"$root/view-min")
      .collect().map(r => r.getAs[String]("k") ->
        r.getAs[Number]("min_v").longValue()).toMap
    mn shouldBe Map("x" -> 7L, "y" -> 5L, "z" -> 2L)
    // replaying either batch is still a no-op
    IngestionRunner.runMaintenance(spark, task(a, "min"))
    spark.read.parquet(s"$root/view-min").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Number]("min_v").longValue())
      .toMap shouldBe mn
  }

  test("ivm snapshot protocol heals every crash window: leftover tmp dirs " +
       "are ignored, a published snapshot is never refolded, a lost view " +
       "re-publishes from state") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("graft-ivm-crash")
    val src = s"$root/batch"
    Seq(("x", 10L), ("y", 5L)).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    val cfg = graft.config.MaintenanceConfig(
      `type` = "ivm", path = s"$root/st", source = Some(src),
      keys = Seq("k"), columns = Seq("v"), agg = "min",
      viewPath = Some(s"$root/view"))
    // the first run publishes generation 1 (named up to its key hash);
    // rename-era tmp leftovers are FoldStoreUpgradeSpec's
    IngestionRunner.runMaintenance(spark, cfg)
    def snaps() = new java.io.File(s"$root/st").listFiles()
      .filter(_.getName.startsWith("state-")).map(_.getName.take(14)).sorted
    snaps() shouldBe Array("state-p-000001")
    def view() = spark.read.parquet(s"$root/view").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Number]("min_v").longValue())
      .toMap
    view() shouldBe Map("x" -> 10L, "y" -> 5L)
    // crash AFTER the committed snapshot but BEFORE the view write: rerun
    // must NOT refold (no generation 2), yet must re-publish the view
    rmrfDir(new java.io.File(s"$root/view"))
    IngestionRunner.runMaintenance(spark, cfg)
    snaps() shouldBe Array("state-p-000001")
    view() shouldBe Map("x" -> 10L, "y" -> 5L)
  }

  test("pointer-publish ivm heals every crash window without a directory " +
       "rename: orphan data dirs are invisible, a committed pointer is " +
       "never refolded, rename-published history still reads") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("graft-ivm-ptr")
    val src1 = s"$root/b1"
    val src2 = s"$root/b2"
    Seq(("x", 10L), ("y", 5L)).toDF("k", "v").write.parquet(src1)
    Seq(("x", 7L), ("z", 2L)).toDF("k", "v").write.parquet(src2)
    def cfg(src: String) = graft.config.MaintenanceConfig(
      `type` = "ivm", path = s"$root/st", source = Some(src),
      keys = Seq("k"), columns = Seq("v"), agg = "min",
      viewPath = Some(s"$root/view"))
    // crash BEFORE the commit pointer: a fully-written data dir exists
    // but no _commits entry — it must stay invisible and the rerun must
    // overwrite it in place (same deterministic name) and commit once
    val orphan = new java.io.File(s"$root/st/state-p-000001-deadbe")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("junk"), "partial")
    IngestionRunner.runMaintenance(spark, cfg(src1))
    def view() = spark.read.parquet(s"$root/view").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Number]("min_v").longValue())
      .toMap
    view() shouldBe Map("x" -> 10L, "y" -> 5L)
    val commits1 = new java.io.File(s"$root/st/_commits").list()
      .filterNot(_.startsWith(".")).sorted
    commits1 shouldBe Array("000001")
    // the orphan name was unrelated (different key hash) — still exactly
    // one POINTED snapshot; the orphan is ignored by readers
    // crash AFTER commit but BEFORE the view write: rerun must NOT refold
    // (no second commit), yet must re-publish the view
    rmrfDir(new java.io.File(s"$root/view"))
    IngestionRunner.runMaintenance(spark, cfg(src1))
    new java.io.File(s"$root/st/_commits").list().filterNot(_.startsWith(".")).sorted shouldBe Array("000001")
    view() shouldBe Map("x" -> 10L, "y" -> 5L)
    // a second batch folds on top as commit 000002
    IngestionRunner.runMaintenance(spark, cfg(src2))
    new java.io.File(s"$root/st/_commits").list()
      .filterNot(_.startsWith(".")).sorted shouldBe
      Array("000001", "000002")
    view() shouldBe Map("x" -> 7L, "y" -> 5L, "z" -> 2L)
    // rename-published history upgrades on its next fold
    // (FoldStoreUpgradeSpec)
  }

  test("dedup-index and profile maintenance are crash-atomic: appliedness " +
       "travels inside the renamed batch unit, partial units heal, " +
       "replays skip, legacy root-file stores still fold") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("graft-atomic-append")
    val src = s"$root/docs"
    Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.parquet(src)
    // --- dedup-index: crash AFTER fingerprints but BEFORE bands — the
    // batch reads as not-applied, the rerun overwrites the partial unit
    val idx = s"$root/idx"
    val partial = new java.io.File(s"$idx/fingerprints/batch-garbage")
    partial.mkdirs() // unrelated partial unit must not block anything
    def idxTask = graft.config.MaintenanceConfig(
      `type` = "dedup-index", path = idx, source = Some(src),
      columns = Seq("doc_id", "text"))
    IngestionRunner.runMaintenance(spark, idxTask)
    graft.similarity.DedupIndex.exists(spark, idx) shouldBe true
    val (fps, bands) = graft.similarity.DedupIndex.load(spark, idx)
    fps.count() shouldBe 2
    val bandCount = bands.count()
    // replay: nothing re-appended (appliedness is the batch's commit record)
    IngestionRunner.runMaintenance(spark, idxTask)
    val (fps2, bands2) = graft.similarity.DedupIndex.load(spark, idx)
    fps2.count() shouldBe 2
    bands2.count() shouldBe bandCount
    // crash window: bands unit and commit record missing -> not applied
    // -> rerun completes
    rmrfDir(new java.io.File(s"$idx/bands"))
    rmrfDir(new java.io.File(s"$idx/_commits"))
    IngestionRunner.runMaintenance(spark, idxTask)
    graft.similarity.DedupIndex.load(spark, idx)._2.count() shouldBe bandCount
    // --- profile: the fold is one generation, replay skips (legacy root
    // files and tmp leftovers are FoldStoreUpgradeSpec's)
    val store = s"$root/prof"
    def profTask = graft.config.MaintenanceConfig(
      `type` = "profile", path = store, source = Some(src),
      columns = Seq("doc_id"))
    IngestionRunner.runMaintenance(spark, profTask)
    def nRows() = graft.metrics.ProfileStore.current(spark, store)
      .filter(col("column") === "doc_id").collect()
      .head.getAs[Number]("n_rows").longValue()
    nRows() shouldBe 2
    IngestionRunner.runMaintenance(spark, profTask) // replay: no change
    nRows() shouldBe 2
    // --- profile and group generations: a crash after a generation's data
    // but before its commit leaves it unread; the rerun overwrites the
    // torn data in place and commits once; replays skip
    val kv = s"$root/kv"
    Seq(("x", 10L), ("y", 5L)).toDF("k", "v").write.parquet(kv)
    for ((kind, task, result) <- foldKinds(s"$root/folds")) withClue(s"$kind: ") {
      val st = task(kv).path
      IngestionRunner.runMaintenance(spark, task(kv))
      val folded = result()
      val gen = new java.io.File(st).listFiles()
        .filter(_.getName.startsWith("state-p-000001-")).head
      new java.io.File(s"$st/_commits/000001").delete() shouldBe true
      Files.writeString(gen.toPath.resolve("part-torn.parquet"), "partial")
      IngestionRunner.runMaintenance(spark, task(kv))
      result() shouldBe folded
      commits(st) shouldBe Seq("000001")
      IngestionRunner.runMaintenance(spark, task(kv)) // replay: no change
      commits(st) shouldBe Seq("000001")
      result() shouldBe folded
    }
  }

  test("pointer-publish appends heal every crash window on dedup-index " +
       "and profile stores: uncommitted units invisible, reruns complete, " +
       "replays skip, lost commit races surface, modes mix on one store") {
    import graft.similarity.DedupIndex
    val root = tmpDir("graft-pointer-append")
    val idx = s"$root/idx"
    val b1 = Seq((1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    // --- dedup-index, pointer mode: publish, read, replay-skip
    DedupIndex.appendAtomic(b1, "doc_id", "text", idx, "k1")
    DedupIndex.batchApplied(spark, idx, "k1") shouldBe true
    DedupIndex.load(spark, idx)._1.count() shouldBe 2
    // crash window: data dirs fully written but the commit file missing —
    // the batch reads as NOT applied and its rows are INVISIBLE
    val b2 = Seq((3L, "iota kappa lambda mu")).toDF("doc_id", "text")
    DedupIndex.appendAtomic(b2, "doc_id", "text", idx, "k2")
    new java.io.File(s"$idx/_commits/k2").delete() shouldBe true
    DedupIndex.batchApplied(spark, idx, "k2") shouldBe false
    DedupIndex.load(spark, idx)._1.count() shouldBe 2
    // the rerun overwrites the orphaned unit in place and commits it
    DedupIndex.appendAtomic(b2, "doc_id", "text", idx, "k2")
    DedupIndex.batchApplied(spark, idx, "k2") shouldBe true
    DedupIndex.load(spark, idx)._1.count() shouldBe 3
    // lost commit race: someone else published this key concurrently
    val marker = new java.io.File(s"$idx/_commits/k3")
    marker.createNewFile() shouldBe true
    val b3 = Seq((4L, "nu xi omicron pi")).toDF("doc_id", "text")
    intercept[IllegalStateException] {
      DedupIndex.appendAtomic(b3, "doc_id", "text", idx, "k3")
    }.getMessage should include("commit race")
    // modes mix on one store: a rename-published unit (planted as the
    // retired rename protocol wrote it) reads alongside the committed
    // pointer units (it is its own commit)
    marker.delete() shouldBe true
    plantRenamedUnits(b3, idx, "k4")
    DedupIndex.load(spark, idx)._1.count() shouldBe 4
    // runMaintenance publishes the same way through config
    val src = s"$root/docs"
    Seq((9L, "rho sigma tau upsilon")).toDF("doc_id", "text")
      .write.parquet(src)
    val task = graft.config.MaintenanceConfig(
      `type` = "dedup-index", path = idx, source = Some(src),
      columns = Seq("doc_id", "text"))
    IngestionRunner.runMaintenance(spark, task)
    DedupIndex.load(spark, idx)._1.count() shouldBe 5
    IngestionRunner.runMaintenance(spark, task) // replay: no change
    DedupIndex.load(spark, idx)._1.count() shouldBe 5
    // --- profile and group generations: the same windows
    val kvs = (1 to 3).map { i =>
      val p = s"$root/kv$i"
      Seq((s"k$i", i * 10L), ("x", 1L)).toDF("k", "v").write.parquet(p)
      p
    }
    for ((kind, task, result) <- foldKinds(s"$root/folds")) withClue(s"$kind: ") {
      val st = task(kvs(0)).path
      IngestionRunner.runMaintenance(spark, task(kvs(0)))
      val r1 = result()
      IngestionRunner.runMaintenance(spark, task(kvs(1)))
      val r2 = result()
      (r2 == r1) shouldBe false
      // generation 2's commit record lost: its data is invisible, and a
      // replay of batch 1 publishes from generation 1
      new java.io.File(s"$st/_commits/000002").delete() shouldBe true
      IngestionRunner.runMaintenance(spark, task(kvs(0)))
      result() shouldBe r1
      // the rerun overwrites the orphaned generation in place and commits it
      IngestionRunner.runMaintenance(spark, task(kvs(1)))
      result() shouldBe r2
      commits(st) shouldBe Seq("000001", "000002")
      IngestionRunner.runMaintenance(spark, task(kvs(1))) // replay: no change
      commits(st) shouldBe Seq("000001", "000002")
      result() shouldBe r2
      // lost commit race: another writer committed generation 3, whose
      // data this fold did not see
      Files.writeString(Paths.get(st, "_commits", "000003"),
        "state-p-000003-000000")
      intercept[IllegalStateException] {
        IngestionRunner.runMaintenance(spark, task(kvs(2)))
      }.getMessage should include("commit race")
      result() shouldBe r2
    }
  }

  test("a rename-era dedup-index batch torn between its fingerprints and " +
       "bands units finishes on rerun with its fingerprints exactly once") {
    import graft.similarity.DedupIndex
    val root = tmpDir("graft-renamed-torn")
    val idx = s"$root/idx"
    def task(src: String) = graft.config.MaintenanceConfig(
      `type` = "dedup-index", path = idx, source = Some(src),
      columns = Seq("doc_id", "text"))
    val b1 = s"$root/b1"
    val b2 = s"$root/b2"
    Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.parquet(b1)
    Seq((3L, "iota kappa lambda mu"), (4L, "nu xi omicron pi"))
      .toDF("doc_id", "text").write.parquet(b2)
    IngestionRunner.runMaintenance(spark, task(b1))
    // the rename protocol published b2's fingerprints unit, then crashed
    // before its bands unit: the batch is not applied, yet its rows read
    graft.similarity.MinHashLsh.fingerprints(spark.read.parquet(b2),
      "doc_id", "text", 3)
      .write.parquet(s"$idx/fingerprints/batch-${Commit.batchKeyFor(b2)}")
    DedupIndex.batchApplied(spark, idx, Commit.batchKeyFor(b2)) shouldBe false
    def ids() = DedupIndex.load(spark, idx)._1.select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    ids() shouldBe Seq(1L, 2L, 3L, 4L)
    IngestionRunner.runMaintenance(spark, task(b2))
    ids() shouldBe Seq(1L, 2L, 3L, 4L)
    DedupIndex.load(spark, idx)._2.select("doc_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L, 3L, 4L)
    IngestionRunner.runMaintenance(spark, task(b2)) // replay: no change
    ids() shouldBe Seq(1L, 2L, 3L, 4L)
  }

  test("pre-r8 stores (unsuffixed batch keys) are not refolded: legacy " +
       "group partitions overwrite in place, legacy min snapshots and " +
       "_applied markers still count as applied") {
    val root = tmpDir("graft-ivm-legacy")
    val src = s"$root/deltas/b1"
    val legacyKey = src.replaceAll("[^A-Za-z0-9._-]", "_") // pre-r8 format
    Seq(("x", 10L), ("y", 5L)).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    // --- group: a legacy partition exists for this source; the rerun must
    // skip the batch (the partition is its applied record), not fold it a
    // second time: the upgrade republishes the partition's rows in place
    // as the store's one generation and keeps its key as a marker
    plantGroupPartition(s"$root/stg", legacyKey, src)
    IngestionRunner.runMaintenance(spark, graft.config.MaintenanceConfig(
      `type` = "ivm", path = s"$root/stg", source = Some(src),
      keys = Seq("k"), sums = Seq("v"), agg = "group",
      viewPath = Some(s"$root/view-g")))
    spark.read.parquet(s"$root/view-g").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Number]("v").longValue())
      .toMap shouldBe Map("x" -> 10L, "y" -> 5L)
    new java.io.File(s"$root/stg").listFiles()
      .count(_.getName.startsWith("_batch_key=")) shouldBe 0
    gens(s"$root/stg") shouldBe Seq("state-p-000001")
    new java.io.File(s"$root/stg/_applied").list() should contain (legacyKey)
    // --- min: a legacy snapshot whose _batch_key holds the UNSUFFIXED key
    // must read as already-applied (no fold of its own, no double-counted
    // n_rows), and the view must re-publish from it
    val snap = s"$root/stm/state-000001"
    Seq(("x", 10L, 1L), ("y", 5L, 1L)).toDF("k", "min_v", "n_rows")
      .write.mode("overwrite").parquet(snap)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(snap, "_batch_key"), legacyKey)
    IngestionRunner.runMaintenance(spark, graft.config.MaintenanceConfig(
      `type` = "ivm", path = s"$root/stm", source = Some(src),
      keys = Seq("k"), columns = Seq("v"), agg = "min",
      viewPath = Some(s"$root/view-m")))
    // the snapshot is upgraded into the one generation after it
    new java.io.File(s"$root/stm").listFiles()
      .filter(_.getName.startsWith("state-"))
      .map(_.getName.take(14)).sorted shouldBe Array("state-p-000002")
    commits(s"$root/stm") shouldBe Seq("000002")
    spark.read.parquet(s"$root/view-m").collect()
      .map(r => r.getAs[String]("k") ->
        (r.getAs[Number]("min_v").longValue(),
          r.getAs[Number]("n_rows").longValue()))
      .toMap shouldBe Map("x" -> (10L, 1L), "y" -> (5L, 1L))
    // --- profile (ifNotApplied): a legacy marker must skip the append
    val store = s"$root/prof"
    new java.io.File(s"$store/_applied").mkdirs()
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(store, "_applied", legacyKey))
    IngestionRunner.runMaintenance(spark, graft.config.MaintenanceConfig(
      `type` = "profile", path = store, source = Some(src),
      columns = Seq("k", "v")))
    // skipped: no profile data landed beyond the marker dir
    new java.io.File(store).listFiles().map(_.getName).toSet shouldBe
      Set("_applied")
  }

  test("maintenance: ivm-prune retires superseded snapshot generations, " +
       "keeps the newest `keep`, and replays of pruned batches still skip " +
       "via the preserved _applied markers") {
    import org.apache.spark.sql.functions._
    // min, group and profile (pruned by its `profile-compact` type); a
    // store the rename protocol wrote is FoldStoreUpgradeSpec's
    for (kind <- Seq("min", "group", "profile")) withClue(s"$kind: ") {
      val root = tmpDir(s"graft-prune-$kind")
      val srcs = (1 to 5).map { i =>
        val p = s"$root/b$i"
        Seq((s"k$i", i.toLong * 10)).toDF("k", "v")
          .write.mode("overwrite").parquet(p)
        p
      }
      def cfg(src: String) = kind match {
        case "profile" => graft.config.MaintenanceConfig(`type` = "profile",
          path = s"$root/st", source = Some(src), columns = Seq("v"))
        case "group" => graft.config.MaintenanceConfig(`type` = "ivm",
          path = s"$root/st", source = Some(src), keys = Seq("k"),
          sums = Seq("v"), agg = "group", viewPath = Some(s"$root/view"))
        case _ => graft.config.MaintenanceConfig(`type` = "ivm",
          path = s"$root/st", source = Some(src), keys = Seq("k"),
          columns = Seq("v"), agg = "min", viewPath = Some(s"$root/view"))
      }
      // the view's value per key, or the profile's row count
      def result(): Map[String, Long] =
        if (kind == "profile") Map("n_rows" ->
          graft.metrics.ProfileStore.current(spark, s"$root/st")
            .filter(col("column") === "v").head().getAs[Long]("n_rows"))
        else spark.read.parquet(s"$root/view").collect()
          .map(r => r.getAs[String]("k") ->
            r.getAs[Number](if (kind == "group") "v" else "min_v").longValue())
          .toMap
      def expected(n: Int): Map[String, Long] =
        if (kind == "profile") Map("n_rows" -> n.toLong)
        else (1 to n).map(i => s"k$i" -> i * 10L).toMap
      srcs.take(4).foreach(s => IngestionRunner.runMaintenance(spark, cfg(s)))
      // a generation's dir, compared up to its key hash
      def gen(n: Int) = f"state-p-$n%06d-"
      def stateDirs() = new java.io.File(s"$root/st").listFiles()
        .filter(_.getName.startsWith("state-")).map(_.getName).sorted.toSeq
        .map(_.take(gen(0).length))
      stateDirs() shouldBe (1 to 4).map(gen)
      result() shouldBe expected(4)
      IngestionRunner.runMaintenance(spark, graft.config.MaintenanceConfig(
        `type` = if (kind == "profile") "profile-compact" else "ivm-prune",
        path = s"$root/st", keep = 2))
      stateDirs() shouldBe Seq(gen(3), gen(4))
      // the retired generations' commit records went with them
      commits(s"$root/st") shouldBe Seq("000003", "000004")
      // pruned generations left _applied markers behind (ignore the local
      // filesystem's .crc sidecars)
      new java.io.File(s"$root/st/_applied").list()
        .count(!_.startsWith(".")) shouldBe 2
      // replaying a PRUNED batch is a no-op: no new generation, result intact
      rmrfDir(new java.io.File(s"$root/view"))
      IngestionRunner.runMaintenance(spark, cfg(srcs.head))
      stateDirs() shouldBe Seq(gen(3), gen(4))
      result() shouldBe expected(4)
      // a genuinely new batch still folds on top of the surviving state
      IngestionRunner.runMaintenance(spark, cfg(srcs(4)))
      result() shouldBe expected(5)
    }
  }

  test("parent-format fold stores continue without refolding: keyed " +
       "profile units with root files, group partitions under both key " +
       "formats") {
    import org.apache.spark.sql.functions._
    import graft.metrics.ProfileStore
    val root = tmpDir("graft-parent-format")
    val b = (0 to 3).map { i =>
      val p = s"$root/deltas/b$i"
      Seq(("x", i + 1L), (s"k$i", 10L * (i + 1))).toDF("k", "v").write.parquet(p)
      p
    }
    // --- profile: b0 as root files (a plain append), b1 as a keyed unit
    // with its commit record, b2 as a rename-era unit
    val store = s"$root/prof"
    def prof(i: Int) = ProfileStore.profile(spark.read.parquet(b(i)), Seq("v"))
    prof(0).write.parquet(store)
    val k1 = Commit.batchKeyFor(b(1))
    prof(1).write.parquet(s"$store/batch-p-$k1")
    Files.createDirectories(Paths.get(store, "_commits"))
    Files.createFile(Paths.get(store, "_commits", k1))
    prof(2).write.parquet(s"$store/batch-${Commit.batchKeyFor(b(2))}")
    def profTask(i: Int) = graft.config.MaintenanceConfig(`type` = "profile",
      path = store, source = Some(b(i)), columns = Seq("v"))
    def nRows() = ProfileStore.current(spark, store)
      .filter(col("column") === "v").head().getAs[Long]("n_rows")
    // unread until its next fold upgrades it
    intercept[IllegalStateException](nRows()).getMessage should
      include("older layout")
    // the parent's batches are folded already: their replays upgrade the
    // store into one generation and fold nothing
    Seq(1, 2).foreach(i => IngestionRunner.runMaintenance(spark, profTask(i)))
    gens(store) shouldBe Seq("state-p-000001")
    nRows() shouldBe 6
    // a new batch folds onto the parent-format data as generation 2
    IngestionRunner.runMaintenance(spark, profTask(3))
    gens(store) shouldBe Seq("state-p-000001", "state-p-000002")
    nRows() shouldBe 8
    (1 to 3).foreach(i => IngestionRunner.runMaintenance(spark, profTask(i)))
    gens(store) shouldBe Seq("state-p-000001", "state-p-000002")
    nRows() shouldBe 8
    // --- group: b0's partition under the pre-r8 key, b1's under the
    // current key
    val stg = s"$root/stg"
    plantGroupPartition(stg, b(0).replaceAll("[^A-Za-z0-9._-]", "_"), b(0))
    plantGroupPartition(stg, Commit.batchKeyFor(b(1)), b(1))
    def grpTask(i: Int) = graft.config.MaintenanceConfig(`type` = "ivm",
      path = stg, source = Some(b(i)), keys = Seq("k"), sums = Seq("v"),
      agg = "group", viewPath = Some(s"$root/view"))
    def view() = spark.read.parquet(s"$root/view").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Number]("v").longValue()).toMap
    Seq(0, 1).foreach(i => IngestionRunner.runMaintenance(spark, grpTask(i)))
    gens(stg) shouldBe Seq("state-p-000001")
    view() shouldBe Map("x" -> 3L, "k0" -> 10L, "k1" -> 20L)
    IngestionRunner.runMaintenance(spark, grpTask(2))
    gens(stg) shouldBe Seq("state-p-000001", "state-p-000002")
    view() shouldBe Map("x" -> 6L, "k0" -> 10L, "k1" -> 20L, "k2" -> 30L)
    (0 to 2).foreach(i => IngestionRunner.runMaintenance(spark, grpTask(i)))
    gens(stg) shouldBe Seq("state-p-000001", "state-p-000002")
    view() shouldBe Map("x" -> 6L, "k0" -> 10L, "k1" -> 20L, "k2" -> 30L)
  }

  test("maintenance: profile-compact folds the store through pipeline " +
       "config") {
    val root = tmpDir("graft-prof-compact")
    val srcs = Seq("b1" -> Seq((1L, "a"), (2L, "b"), (3L, "a")),
                   "b2" -> Seq((4L, "c"))).map { case (name, rows) =>
      val p = s"$root/$name"
      rows.toDF("id", "s").write.mode("overwrite").parquet(p)
      p
    }
    def fold(src: String): Unit = IngestionRunner.runMaintenance(spark,
      graft.config.MaintenanceConfig(`type` = "profile", path = s"$root/prof",
        source = Some(src), columns = Seq("id", "s")))
    def nRows(): Long = graft.metrics.ProfileStore.summary(
      graft.metrics.ProfileStore.current(spark, s"$root/prof"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
      .apply("id").getAs[Long]("n_rows")
    srcs.foreach(fold)
    gens(s"$root/prof") shouldBe Seq("state-p-000001", "state-p-000002")
    IngestionRunner.runMaintenance(spark, graft.config.MaintenanceConfig(
      `type` = "profile-compact", path = s"$root/prof", keep = 1))
    gens(s"$root/prof") shouldBe Seq("state-p-000002")
    nRows() shouldBe 4L
    // every folded batch's appliedness survived: a replay skips
    srcs.foreach(fold)
    gens(s"$root/prof") shouldBe Seq("state-p-000002")
    nRows() shouldBe 4L
  }

  test("maintenance: dedup-index-compact and dedup-index-rebucket run the " +
       "index maintenance from pipeline config") {
    import graft.core.IngestionRunner
    import graft.similarity.{AnnIndex, BucketedIndex, DedupIndex, MediaDedupIndex}
    import org.apache.spark.sql.functions.{array, col, sin, xxhash64}
    val root = tmpDir("mnt-idx")
    val ids = (0L until 40L).toDF("id")
    // per input: (task-type prefix, index, its build, (doc_id, value) rows,
    // value column); every kind is built from 40 rows, then appended 3
    // times under shifted ids — 160 indexed rows in total
    val inputs: Seq[(String, BucketedIndex,
        (org.apache.spark.sql.DataFrame, String, String) => Unit,
        org.apache.spark.sql.DataFrame, String)] = Seq(
      ("dedup", DedupIndex, DedupIndex.build(_, "doc_id", _, _),
        (0L until 40L).map(i => (i, s"nu xi omicron doc $i tail ${i * 17}"))
          .toDF("doc_id", "text"), "text"),
      ("media", MediaDedupIndex, MediaDedupIndex.build(_, "doc_id", _, _),
        ids.select(col("id").as("doc_id"),
          xxhash64(col("id")).as("dhash")), "dhash"),
      ("ann", AnnIndex, AnnIndex.build(_, "doc_id", _, _),
        ids.select(col("id").as("doc_id"), array((0 until 64)
          .map(j => sin(col("id") * (j + 1) + 1.0)): _*).as("emb")), "emb"))
    inputs.foreach { case (kind, index, build, docs, valueCol) =>
      withClue(s"$kind: ") {
        val idx = s"$root/$kind-index"
        build(docs, valueCol, idx)
        (1 to 3).foreach(b => index.append(
          docs.withColumn("doc_id", col("doc_id") + b * 1000L),
          "doc_id", valueCol, idx))
        IngestionRunner.runMaintenance(spark, graft.config.MaintenanceConfig(
          `type` = s"$kind-index-compact", path = idx))
        graft.lakehouse.Compaction.parquetFileCount(spark,
          s"$idx/bands_v1") shouldBe 8
        IngestionRunner.runMaintenance(spark, graft.config.MaintenanceConfig(
          `type` = s"$kind-index-rebucket", path = idx, buckets = 16))
        index.manifest(spark, idx).numBuckets shouldBe 16
        index.indexedIds(spark, idx).count() shouldBe 160L
        // rebucket without a bucket count refuses loudly
        an[IllegalArgumentException] should be thrownBy
          IngestionRunner.runMaintenance(spark,
            graft.config.MaintenanceConfig(
              `type` = s"$kind-index-rebucket", path = idx))
      }
    }
  }

  /** Plant batch `key` of the legacy dedup index at `idx` as the retired
    * rename protocol published it: `batch-<key>` units of both tables. */
  private def plantRenamedUnits(docs: org.apache.spark.sql.DataFrame,
                                idx: String, key: String): Unit = {
    import graft.similarity.MinHashLsh
    val fps = s"$idx/fingerprints/batch-$key"
    MinHashLsh.fingerprints(docs, "doc_id", "text", 3).write.parquet(fps)
    MinHashLsh.bandIndex(spark.read.parquet(fps), "doc_id", 16, 4)
      .write.parquet(s"$idx/bands/batch-$key")
  }

  /** The config folds that publish Commit generations, over (k, v)
    * batches under `root`: each kind's task for a batch path and a reader
    * of its result (the view's v per k, or the profile's n_rows and sum
    * of v). */
  private def foldKinds(root: String): Seq[(String,
      String => graft.config.MaintenanceConfig, () => Map[String, Long])] = {
    import org.apache.spark.sql.functions.col
    Seq(
      ("profile",
        src => graft.config.MaintenanceConfig(`type` = "profile",
          path = s"$root/prof", source = Some(src), columns = Seq("v")),
        () => {
          val r = graft.metrics.ProfileStore.current(spark, s"$root/prof")
            .filter(col("column") === "v").head()
          Map("n_rows" -> r.getAs[Long]("n_rows"), "sum" -> r.getAs[Long]("sum_l"))
        }),
      ("group",
        src => graft.config.MaintenanceConfig(`type` = "ivm",
          path = s"$root/grp", source = Some(src), keys = Seq("k"),
          sums = Seq("v"), agg = "group", viewPath = Some(s"$root/grp-view")),
        () => spark.read.parquet(s"$root/grp-view").collect()
          .map(r => r.getAs[String]("k") -> r.getAs[Number]("v").longValue())
          .toMap))
  }

  /** The generation record names under `store`'s `_commits`, sorted. */
  private def commits(store: String): Seq[String] =
    Option(new java.io.File(s"$store/_commits").list()).toSeq.flatten
      .filter(_.forall(_.isDigit)).sorted

  /** The generation dirs of `store`, named up to their key hash. */
  private def gens(store: String): Seq[String] =
    new java.io.File(store).list().filter(_.startsWith("state-p-"))
      .map(_.take("state-p-000000".length)).sorted.toSeq

  /** A `group` store's per-batch partition as the pre-generation layout
    * wrote it: the z-set delta of `src` under `_batch_key=<key>`. */
  private def plantGroupPartition(stateDir: String, key: String,
                                  src: String): Unit = {
    import graft.transform.Ivm
    Ivm.viewDelta(Ivm.asZ(spark.read.parquet(src)), Seq("k"),
      Seq("v" -> org.apache.spark.sql.functions.col("v")))
      .write.parquet(s"$stateDir/_batch_key=$key")
  }

  private def rmrfDir(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles.foreach(rmrfDir)
    p.delete(); ()
  }
}
