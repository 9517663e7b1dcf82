package graft

import java.nio.file.{Files, Paths}

import graft.config._
import graft.dq.{DQPolicy, NotNullCheck, RangeCheck, RowCountCheck, UniqueKeyCheck}

class ConfigSpec extends SparkSpec {

  private val json =
    """{
      |  "env": "dev",
      |  "jobs": [{
      |    "domain": "payments", "dataset": "tx", "layer": "bronze",
      |    "validateSchema": false,
      |    "source": {"type": "parquet", "path": "/data/in", "streaming": false},
      |    "target": {"format": "parquet", "identifier": "/data/out",
      |               "partitions": ["day"], "mode": "overwrite"},
      |    "dq": {
      |      "policy": "quarantine",
      |      "quarantine": "/data/quarantine",
      |      "checks": [
      |        {"type": "not_null", "column": "id"},
      |        {"type": "range", "column": "amount", "min": 0},
      |        {"type": "unique_key", "columns": ["id", "day"]}
      |      ]
      |    }
      |  }]
      |}""".stripMargin

  test("parses models, checks, and policy") {
    val cfg = ConfigLoader.parse(json)
    cfg.env shouldBe "dev"
    val job = cfg.jobs.head
    job.target.partitions shouldBe Seq("day")
    val rs = job.dq.get.toRuleSet
    rs.policy shouldBe DQPolicy.QuarantineRows
    rs.checks should contain allOf (
      NotNullCheck("id"),
      RangeCheck("amount", Some(0.0), None),
      UniqueKeyCheck(Seq("id", "day")),
    )
  }

  test("unknown check type and policy fail loudly") {
    an[IllegalArgumentException] should be thrownBy
      CheckConfig("nonsense").toCheck
    an[IllegalArgumentException] should be thrownBy
      DQConfig(policy = "bogus").toRuleSet
  }

  test("eager schema validation points at the missing file") {
    val base = tmpDir("cfgreg")
    val cfgJson =
      s"""{"env": "dev", "schemaRegistry": "$base",
         |  "jobs": [{"domain": "d", "dataset": "missing", "layer": "bronze",
         |    "source": {"type": "parquet", "path": "/x"},
         |    "target": {"format": "parquet", "identifier": "/y"}}]}""".stripMargin
    val f = Paths.get(tmpDir("cfg"), "p.json")
    Files.writeString(f, cfgJson)
    val e = intercept[ConfigLoader.ConfigValidationException](
      ConfigLoader.loadFromFile(f.toString))
    e.getMessage should include("d/missing")
  }

  test("runner factories reject unknown types") {
    an[IllegalArgumentException] should be thrownBy
      graft.core.IngestionRunner.buildWriter("mongodb")
    an[IllegalArgumentException] should be thrownBy
      graft.core.IngestionRunner.parseMode("sideways")
  }

  test("Hocon parses nesting, dotted keys, types, comments, merge") {
    val tree = Hocon.parse(
      """# top comment
        |a = 1
        |b { x = true }        // inline comment
        |b { y = "quoted str" }
        |c.d.e = 2.5
        |arr = [1, 2,
        |  3]
        |objs = [{n = "one"}, {n = "two"}]
        |unquoted = hello world
        |numstr = "123"
        |""".stripMargin)
    tree("a") shouldBe 1L
    val b = tree("b").asInstanceOf[Hocon.Obj]
    b("x") shouldBe true
    b("y") shouldBe "quoted str" // objects merged, scalars kept
    tree("c").asInstanceOf[Hocon.Obj]("d").asInstanceOf[Hocon.Obj]("e") shouldBe 2.5
    tree("arr") shouldBe List(1L, 2L, 3L)
    tree("objs").asInstanceOf[List[Hocon.Obj]].map(_("n")) shouldBe List("one", "two")
    tree("unquoted") shouldBe "hello world"
    tree("numstr") shouldBe "123" // quoted numbers stay strings
  }

  test("Hocon substitutions resolve from config, then environment") {
    val tree = Hocon.parse(
      """env = prod
        |path = "/data/"${env}"/in"
        |fromEnv = ${GRAFT_TEST_SUB}
        |absent = ${?NOT_SET_ANYWHERE}
        |""".stripMargin,
      env = Map("GRAFT_TEST_SUB" -> "injected"))
    tree("path") shouldBe "/data/prod/in"
    tree("fromEnv") shouldBe "injected"
    assert(tree("absent") == null)
    a[Hocon.HoconParseException] should be thrownBy
      Hocon.parse("x = ${MISSING_REQUIRED}", env = Map.empty)
  }

  test("JDBC partition/watermark options travel config -> reader") {
    val cfgText =
      """jobs = [{
        |  domain = "d", dataset = "t", layer = "bronze"
        |  validateSchema = false
        |  source = {
        |    type = "jdbc"
        |    url = "jdbc:postgresql://db/x"
        |    table = "events"
        |    partitionColumn = "id"
        |    lowerBound = 0
        |    upperBound = 1000000
        |    numPartitions = 16
        |    watermarkColumn = "updated_at"
        |    watermarkValue = "2026-01-01 00:00:00"
        |  }
        |  target = {format = "parquet", identifier = "/out"}
        |}]""".stripMargin
    val cfg = HoconConfigLoader.toPipelineConfig(Hocon.parse(cfgText))
    val reader = graft.core.IngestionRunner.buildReader(cfg.jobs.head, None)
      .asInstanceOf[graft.io.JdbcReader]
    val opts = reader.readerOptions
    opts("partitionColumn") shouldBe "id"
    opts("lowerBound") shouldBe "0"
    opts("upperBound") shouldBe "1000000"
    opts("numPartitions") shouldBe "16"
    opts("dbtable") should include("updated_at > '2026-01-01 00:00:00'")
  }

  test("warn_only and mask_pii accept the reference snake_case spelling") {
    val cfg = HoconConfigLoader.toPipelineConfig(Hocon.parse(
      """jobs = [{
        |  domain = "d", dataset = "t", layer = "bronze"
        |  validateSchema = false
        |  mask_pii = "hash"
        |  source = {type = "parquet", path = "/in"}
        |  target = {format = "parquet", identifier = "/out"}
        |  data_quality = {
        |    on_fail = "LOG_ONLY"
        |    warn_only = ["range_amount"]
        |    checks = [{type = "range", column = "amount", min = 0}]
        |  }
        |}]""".stripMargin))
    cfg.jobs.head.dq.get.warnOnly shouldBe Seq("range_amount")
    cfg.jobs.head.maskPii shouldBe Some("hash")
    // camelCase spelling still wins when both present
    val cc = HoconConfigLoader.toPipelineConfig(Hocon.parse(
      """jobs = [{
        |  domain = "d", dataset = "t", layer = "bronze"
        |  validateSchema = false
        |  maskPii = "redact"
        |  source = {type = "parquet", path = "/in"}
        |  target = {format = "parquet", identifier = "/out"}
        |  dq = {warnOnly = ["a"], checks = [{type = "not_null", column = "x"}]}
        |}]""".stripMargin))
    cc.jobs.head.dq.get.warnOnly shouldBe Seq("a")
    cc.jobs.head.maskPii shouldBe Some("redact")
  }

  test("maintenance keep is read from HOCON, defaulting to 2") {
    val cfg = HoconConfigLoader.toPipelineConfig(Hocon.parse(
      """maintenance = [
        |  {type = "ivm-prune", path = "/st", keep = 5},
        |  {type = "ivm-prune", path = "/st2"}
        |]""".stripMargin))
    cfg.maintenance.map(_.keep) shouldBe Seq(5, 2)
  }

  test("JSON and HOCON load the same pipeline") {
    val fromJson = ConfigLoader.parse(
      """{"jobs": [{
        |  "domain": "d", "dataset": "t", "schemaVersion": 1,
        |  "validateSchema": false,
        |  "source": {"type": "jdbc", "url": "jdbc:postgresql://db/x",
        |    "table": "events", "partitionColumn": "id",
        |    "lowerBound": 5, "upperBound": 1000, "numPartitions": 4},
        |  "target": {"format": "parquet", "identifier": "/out"},
        |  "dq": {"policy": "quarantine", "quarantine": "/q", "checks": [
        |    {"type": "range", "column": "amount", "min": 0, "max": 100},
        |    {"type": "row_count_min", "minRows": 1}]}
        |}],
        |"maintenance": [{"type": "ivm", "path": "/st", "source": "/in",
        |  "keys": ["k"], "agg": "GROUP", "publish": "Pointer", "keep": 5}]
        |}""".stripMargin)
    // the reference's spellings: schema block, target.table/
    // lakehouse_format, data_quality.on_fail
    val fromHocon = HoconConfigLoader.toPipelineConfig(Hocon.parse(
      """jobs = [{
        |  domain = d, dataset = t, validateSchema = false
        |  schema { version = "v1" }
        |  source {
        |    type = jdbc, url = "jdbc:postgresql://db/x", table = events
        |    partitionColumn = id, lowerBound = 5, upperBound = 1000
        |    numPartitions = 4
        |  }
        |  target { lakehouse_format = parquet, table = "/out" }
        |  data_quality {
        |    on_fail = QUARANTINE, quarantine = "/q"
        |    checks = [{type = range, column = amount, min = 0, max = 100},
        |              {type = row_count_min, minRows = 1}]
        |  }
        |}]
        |maintenance = [{type = ivm, path = "/st", source = "/in", keys = [k],
        |  agg = GROUP, publish = Pointer, keep = 5}]
        |""".stripMargin))
    fromHocon shouldBe fromJson
    fromJson.env shouldBe "dev"
    fromJson.jobs.head.layer shouldBe "bronze"
    graft.core.IngestionRunner.buildReader(fromJson.jobs.head, None)
      .asInstanceOf[graft.io.JdbcReader].readerOptions("lowerBound") shouldBe "5"
    fromJson.jobs.head.dq.get.toRuleSet.checks shouldBe Seq(
      RangeCheck("amount", Some(0.0), Some(100.0)), RowCountCheck(1L))
    graft.core.Commit.pointerMode(fromJson.maintenance.head.publish) shouldBe true
  }

  test("JSON and HOCON files get the same default schema registry") {
    val dir = Paths.get(tmpDir("cfg-default-registry"))
    val jsonFile = dir.resolve("p.json")
    val confFile = dir.resolve("p.conf")
    Files.writeString(jsonFile,
      """{"jobs": [{"domain": "d", "dataset": "t", "validateSchema": false,
        |  "source": {"type": "parquet", "path": "/in"},
        |  "target": {"format": "parquet", "identifier": "/out"}}]}""".stripMargin)
    Files.writeString(confFile,
      """jobs = [{domain = d, dataset = t, validateSchema = false
        |  source { type = parquet, path = "/in" }
        |  target { format = parquet, identifier = "/out" }}]
        |""".stripMargin)
    val fromJson = ConfigLoader.loadFromFile(jsonFile.toString, schemaBasePath = "reg")
    val fromConf = ConfigLoader.loadFromFile(confFile.toString, schemaBasePath = "reg")
    fromJson.schemaRegistry shouldBe Some("reg")
    fromConf shouldBe fromJson
  }

  test("Hocon: deep substitution chains resolve; genuine cycles fail") {
    // a 30-deep legitimate chain (the old fixed depth cap of 16 would
    // misreport this as a cycle)
    val chain = (1 to 30).map(i => s"k$i = $${k${i + 1}}").mkString("\n")
    val tree = Hocon.parse(s"$chain\nk31 = leaf\n")
    tree("k1") shouldBe "leaf"
    // a real cycle is named in the error
    val e = the[Hocon.HoconParseException] thrownBy
      Hocon.parse("a = ${b}\nb = ${a}\n")
    e.getMessage should include("cycle")
  }

  test("target.catalog qualifies bare table identifiers in built jobs") {
    import graft.core.IngestionRunner
    val j = JobConfig("d", "s", "bronze",
      source = SourceConfig("parquet", path = Some("/x")),
      target = TargetConfig("iceberg", "payments.tx_bronze", catalog = Some("hive")),
      validateSchema = false)
    IngestionRunner.buildJob(j, None).target.identifier shouldBe
      "hive.payments.tx_bronze"
    // already-qualified identifiers and paths pass through untouched
    IngestionRunner.buildJob(
      j.copy(target = j.target.copy(identifier = "hive.db.t")), None)
      .target.identifier shouldBe "hive.db.t"
    IngestionRunner.buildJob(
      j.copy(target = j.target.copy(identifier = "/data/out")), None)
      .target.identifier shouldBe "/data/out"
    // an identifier explicitly qualified with a DIFFERENT registered catalog
    // is honored — never re-prefixed into a 4-part name
    IngestionRunner.buildJob(
      j.copy(target = j.target.copy(identifier = "spark_catalog.db.t")), None)
      .target.identifier shouldBe "spark_catalog.db.t"
    IngestionRunner.buildJob(
      j.copy(target = j.target.copy(identifier = "othercat.db.t")), None,
      knownCatalogs = Set("spark_catalog", "othercat"))
      .target.identifier shouldBe "othercat.db.t"
  }

  test("catalog config threads spark.sql.catalog.<name>.* pairs into the session") {
    // the reference's helm-values pattern (spark.sql.catalog.iceberg = plugin
    // class + .type/.uri/.warehouse pairs) expressed as pipeline config
    val conf =
      """env = prod
        |catalog {
        |  name = lakecat
        |  type = iceberg
        |  options {
        |    type = hive
        |    uri = "thrift://metastore:9083"
        |    warehouse = "/tmp/wh"
        |  }
        |}
        |jobs = []
        |""".stripMargin
    val cfg = HoconConfigLoader.toPipelineConfig(Hocon.parse(conf))
    cfg.catalogs.map(_.name) shouldBe Seq("lakecat")
    cfg.catalogs.head.sessionConf shouldBe Map(
      "spark.sql.catalog.lakecat" -> "org.apache.iceberg.spark.SparkCatalog",
      "spark.sql.catalog.lakecat.type" -> "hive",
      "spark.sql.catalog.lakecat.uri" -> "thrift://metastore:9083",
      "spark.sql.catalog.lakecat.warehouse" -> "/tmp/wh")
    // a fully-qualified class passes through; JSON spells it the same way
    CatalogConfig("c2", "com.example.MyCatalog").pluginClass shouldBe
      "com.example.MyCatalog"
    val json = """{"env":"t","catalogs":[{"name":"j1","type":"delta",
      "options":{"k":"v"}}],"jobs":[]}""".replace("\n", "")
    val jcfg = ConfigLoader.parse(json)
    jcfg.catalogs.head.sessionConf("spark.sql.catalog.j1") shouldBe
      "org.apache.spark.sql.delta.catalog.DeltaCatalog"
    jcfg.catalogs.head.sessionConf("spark.sql.catalog.j1.k") shouldBe "v"
  }

  test("Hocon: doubling substitution chains resolve in linear time (memoized)") {
    // a1=${a0}${a0}, a2=${a1}${a1}, ...: without write-back memoization
    // each level re-resolves its predecessor twice — 2^n resolutions.
    // 18 levels memoized is instant; unmemoized it's ~260k re-parses.
    val n = 18
    val chain = (1 to n)
      .map(i => s"a$i = $${a${i - 1}}$${a${i - 1}}").mkString("\n")
    val start = System.nanoTime()
    val tree = Hocon.parse(s"a0 = x\n$chain\n")
    val secs = (System.nanoTime() - start) / 1e9
    tree(s"a$n").asInstanceOf[String].length shouldBe (1 << n)
    secs should be < 10.0
  }

  test("Hocon: include splices relative to the including file, later keys win") {
    val dir = Paths.get(tmpDir("hoconinc"))
    Files.createDirectories(dir.resolve("sub"))
    // nested include: base.conf includes sub/env.conf which includes defaults.conf
    Files.writeString(dir.resolve("sub/defaults.conf"),
      "app { retries = 3\n  tag = \"default\" }\n")
    Files.writeString(dir.resolve("sub/env.conf"),
      "include \"defaults.conf\"\napp.tag = \"prod\"\nenv = prod\n")
    Files.writeString(dir.resolve("base.conf"),
      "include \"sub/env.conf\"\napp.retries = 5\nname = ${env}-pipeline\n")
    val tree = Hocon.parseFile(dir.resolve("base.conf").toString)
    val app = tree("app").asInstanceOf[Hocon.Obj]
    app("retries") shouldBe 5L   // key after the include overrides
    app("tag") shouldBe "prod"   // env.conf's override of defaults.conf
    tree("name") shouldBe "prod-pipeline" // substitution sees merged root
    // a split conf loads identically to its hand-merged form
    val merged = Hocon.parse(
      "app { retries = 5\n tag = \"prod\" }\nenv = prod\nname = prod-pipeline\n")
    tree shouldBe merged
  }

  test("Hocon: include inside a nested object splices into that object") {
    val dir = Paths.get(tmpDir("hoconnest"))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("opts.conf"), "retries = 9\ntag = \"inc\"\n")
    Files.writeString(dir.resolve("nest.conf"),
      "app {\n  include \"opts.conf\"\n  tag = \"outer\"\n}\n")
    val tree = Hocon.parseFile(dir.resolve("nest.conf").toString)
    val app = tree("app").asInstanceOf[Hocon.Obj]
    app("retries") shouldBe 9L
    app("tag") shouldBe "outer" // later key in the including block wins
  }

  test("Hocon: include cycles and missing files fail with pointed errors") {
    val dir = Paths.get(tmpDir("hoconbad"))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("a.conf"), "include \"b.conf\"\nx = 1\n")
    Files.writeString(dir.resolve("b.conf"), "include \"a.conf\"\ny = 2\n")
    val cyc = the[Hocon.HoconParseException] thrownBy
      Hocon.parseFile(dir.resolve("a.conf").toString)
    cyc.getMessage should include("include cycle")
    Files.writeString(dir.resolve("c.conf"), "include \"nope.conf\"\n")
    val miss = the[Hocon.HoconParseException] thrownBy
      Hocon.parseFile(dir.resolve("c.conf").toString)
    miss.getMessage should include("not found")
    // bare-text parses can't resolve relative includes: pointed error, not a guess
    val noBase = the[Hocon.HoconParseException] thrownBy
      Hocon.parse("include \"x.conf\"\n")
    noBase.getMessage should include("no base directory")
  }
}
