package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types._

import graft.core.MedallionLayer
import graft.io._
import graft.lakehouse._

class IoSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
  ))

  /** Names of the swap siblings (hidden or, from earlier releases,
    * visible) a rewrite of `dir` left beside it. */
  private def swapLeftovers(dir: String): Seq[String] =
    new java.io.File(dir).getParentFile.listFiles.toSeq.map(_.getName)
      .filter(_.contains("__rewrite_"))

  test("FileReader reads csv with explicit schema, no inference") {
    val dir = tmpDir("csv")
    Files.writeString(Paths.get(dir, "data.csv"), "1,alpha\n2,beta\n")
    val df = FileReader("csv", dir, Some(schema)).read(spark)
    df.schema.fields.map(_.dataType).toSeq shouldBe Seq(LongType, StringType)
    df.count() shouldBe 2
  }

  test("FileReader json surfaces corrupt records instead of dropping them") {
    val dir = tmpDir("json")
    Files.writeString(Paths.get(dir, "data.json"),
      """{"id": 1, "name": "ok"}
        |not json at all
        |{"id": 2, "name": "fine"}""".stripMargin)
    val df = FileReader("json", dir, Some(schema),
      corruptColumn = Some("_corrupt_record")).read(spark)
    val rows = df.collect()
    rows.length shouldBe 3
    rows.count(r => !r.isNullAt(r.fieldIndex("_corrupt_record"))) shouldBe 1
  }

  test("JdbcReader builds partitioned + watermarked reader options") {
    val r = JdbcReader("jdbc:postgresql://db/x", "events",
      partitionColumn = Some("id"), lowerBound = Some(0L), upperBound = Some(1000L),
      numPartitions = 16, watermark = Some(("updated_at", "2026-01-01")))
    r.dbtable should include("updated_at > '2026-01-01'")
    val o = r.readerOptions
    o("numPartitions") shouldBe "16"
    o("partitionColumn") shouldBe "id"
    o("url") shouldBe "jdbc:postgresql://db/x"
  }

  test("KafkaReader options differ between batch and streaming") {
    val stream = KafkaReader("b:9092", "t", schema, streaming = true)
    val batch = KafkaReader("b:9092", "t", schema, streaming = false)
    stream.readerOptions should not contain key("endingOffsets")
    batch.readerOptions("endingOffsets") shouldBe "latest"
    batch.readerOptions("subscribe") shouldBe "t"
  }

  test("parseJsonPayload flattens valid payloads and keeps corrupt raw") {
    val raw = Seq("""{"id": 7, "name": "x"}""", "garbage").toDF("value")
    val out = KafkaReader.parseJsonPayload(raw, schema).collect()
    out.length shouldBe 2
    val good = out.find(!_.isNullAt(0)).get
    good.getLong(0) shouldBe 7L
    val bad = out.find(_.isNullAt(0)).get
    bad.getString(bad.fieldIndex("_corrupt_record")) shouldBe "garbage"
  }

  test("ParquetSink writes partitioned data; partition pruning applies") {
    val dir = tmpDir("sink") + "/t"
    val df = Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2")).toDF("id", "v", "day")
    ParquetSink().write(df,
      LakehouseTable(dir, MedallionLayer.Bronze, Seq("day")), SaveMode.Overwrite)
    Files.isDirectory(Paths.get(dir, "day=d1")) shouldBe true
    val back = spark.read.parquet(dir).filter($"day" === "d2")
    back.count() shouldBe 1
    // pruning: the day filter must land in PartitionFilters, not a post-scan filter
    val plan = back.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include regex """PartitionFilters: \[[^\]]*day[^\]]*= d2"""
  }

  test("SinkWriter routes catalog identifiers through saveAsTable") {
    val table = LakehouseTable("graft_test_tbl", MedallionLayer.Silver)
    table.isPath shouldBe false
    ParquetSink().write(Seq((1L, "x")).toDF("id", "v"), table, SaveMode.Overwrite)
    spark.catalog.tableExists("graft_test_tbl") shouldBe true
    spark.table("graft_test_tbl").count() shouldBe 1
    spark.sql("DROP TABLE graft_test_tbl")
  }

  test("format strings for delta/iceberg match the reference contract") {
    DeltaSink().formatName shouldBe "delta"
    IcebergSink().formatName shouldBe "iceberg"
  }

  test("OrcSink -> FileReader round-trips values, partitions and an" +
      " explicit schema (no inference)") {
    val dir = tmpDir("orc-sink") + "/t"
    val df = Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"))
      .toDF("id", "v", "day")
    OrcSink().write(df,
      LakehouseTable(dir, MedallionLayer.Bronze, Seq("day")),
      SaveMode.Overwrite)
    Files.isDirectory(Paths.get(dir, "day=d1")) shouldBe true
    val rtSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("day", StringType))) // partition col resolves by name
    val back = FileReader("orc", dir, Some(rtSchema)).read(spark)
    back.schema.fieldNames.toSeq shouldBe Seq("id", "v", "day")
    back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq shouldBe
      Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"))
    // the ORC reader prunes partitions and pushes row-group predicates
    val plan = back.filter($"day" === "d2" && $"id" >= 2L)
      .queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("GreaterThanOrEqual(id,2)")
  }

  test("the runner's writer factory resolves orc like any lakehouse format") {
    graft.core.IngestionRunner.buildWriter("orc") shouldBe OrcSink()
  }

  test("JdbcReader runs against a REAL database: partitioned scan +" +
      " watermark pushdown (embedded Derby e2e)") {
    // derby ships in /opt/spark/jars (the hive-metastore dependency), so
    // unlike Kafka/Delta/Iceberg the JDBC path is executable end-to-end:
    // the watermark must filter on the DATABASE side (subquery pushdown)
    // and the partition bounds must fan the scan out
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        "CREATE TABLE tx (id BIGINT, amount DOUBLE, updated_at VARCHAR(32))")
      (1 to 20).foreach(i => st.execute(
        s"INSERT INTO tx VALUES ($i, ${i * 15L}.0, '2024-01-${"%02d".format(i)}')"))
    } finally conn.close()
    val reader = JdbcReader(url, "tx",
      partitionColumn = Some("id"), lowerBound = Some(1L),
      upperBound = Some(21L), numPartitions = 4,
      watermark = Some(("updated_at", "2024-01-10")))
    val df = reader.read(spark)
    df.rdd.getNumPartitions shouldBe 4 // partitioned fan-out is real
    val rows = df.collect()
    rows.length shouldBe 10 // watermark filtered ids 1..10 in the DB
    rows.map(_.getAs[Long]("ID")).min shouldBe 11L
    rows.map(_.getAs[Double]("AMOUNT")).sum shouldBe
      (11 to 20).map(_ * 15.0).sum
  }

  test("WatermarkStore persists marks atomically and feeds the JDBC reader") {
    import graft.config._
    val storePath = tmpDir("wm") + "/marks.json"
    val store = new graft.io.WatermarkStore(storePath)
    store.get("pay.tx") shouldBe None
    // advancing from a batch records its max; empty batches don't regress
    val batch = Seq((1L, "2026-01-01 00:00:00"), (2L, "2026-02-03 04:05:06"))
      .toDF("id", "updated_at")
    store.advance(batch, "updated_at", "pay.tx") shouldBe Some("2026-02-03 04:05:06")
    store.advance(batch.limit(0), "updated_at", "pay.tx") shouldBe None
    // MONOTONIC: a backfill batch whose max is below the stored mark must
    // not regress it (re-running old data would otherwise cause duplicate
    // re-ingestion on the next incremental run)
    val backfill = Seq((0L, "2025-12-31 23:59:59")).toDF("id", "updated_at")
    store.advance(backfill, "updated_at", "pay.tx") shouldBe None
    store.get("pay.tx") shouldBe Some("2026-02-03 04:05:06")
    // ...and the comparison is typed, not lexicographic: numeric 9 < 10
    store.advance(Seq((9L, "x")).toDF("num", "s"), "num", "n") shouldBe Some("9")
    store.advance(Seq((10L, "x")).toDF("num", "s"), "num", "n") shouldBe Some("10")
    store.advance(Seq((9L, "x")).toDF("num", "s"), "num", "n") shouldBe None
    store.get("n") shouldBe Some("10")
    new graft.io.WatermarkStore(storePath).get("pay.tx") shouldBe
      Some("2026-02-03 04:05:06")
    // an incremental job with no explicit watermarkValue picks up the mark
    val job = JobConfig("pay", "tx", "bronze",
      source = SourceConfig("jdbc", url = Some("jdbc:postgresql://db/x"),
        table = Some("tx"), watermarkColumn = Some("updated_at")),
      target = TargetConfig("parquet", "/out"), validateSchema = false)
    val reader = graft.core.IngestionRunner
      .buildReader(job, None, Some(store))
      .asInstanceOf[graft.io.JdbcReader]
    reader.dbtable should include("updated_at > '2026-02-03 04:05:06'")
  }

  test("ZOrder.interleave produces the Morton curve on known values") {
    import graft.lakehouse.ZOrder
    import org.apache.spark.sql.functions.col
    // (x=0b11, y=0b01) -> bits interleaved x0,y0,x1,y1 = 1,1,1,0 -> 0b0111
    val df = Seq((3L, 1L)).toDF("x", "y")
      .select(ZOrder.interleave(Seq(col("x"), col("y")), bits = 2).as("z"))
    df.as[Long].collect() shouldBe Array(7L)
  }

  test("z-ordering clusters BOTH columns per partition; a sort only one") {
    import graft.lakehouse.ZOrder
    import org.apache.spark.sql.functions.{col, spark_partition_id, max => fmax, min => fmin, avg}
    // two independent uniform columns
    val df = spark.range(20000).toDF("id")
      .withColumn("a", (col("id") * 7919L) % 10000L)
      .withColumn("b", (col("id") * 104729L) % 10000L)
    def avgSpan(d: org.apache.spark.sql.DataFrame, c: String): Double =
      d.withColumn("pid", spark_partition_id())
        .groupBy("pid").agg((fmax(col(c)) - fmin(col(c))).as("span"))
        .agg(avg("span")).as[Double].collect()(0)
    val z = ZOrder.zorderBy(df, Seq("a", "b"), nFiles = 16).cache()
    z.count()
    val (spanA, spanB) = (avgSpan(z, "a"), avgSpan(z, "b"))
    val sorted = df.repartitionByRange(16, col("a")).cache()
    sorted.count()
    val (sortA, sortB) = (avgSpan(sorted, "a"), avgSpan(sorted, "b"))
    // single-column sort: a tightly clustered, b spans ~everything
    sortA should be < 1500.0
    sortB should be > 8000.0
    // z-order: BOTH columns clustered well below the full 10000 range
    spanA should be < 5000.0
    spanB should be < 5000.0
    z.unpersist(); sorted.unpersist()
  }

  test("Compaction rewrites many small files into sized outputs, atomically") {
    import graft.lakehouse.Compaction
    val dir = tmpDir("compact") + "/t"
    val df = spark.range(10000).toDF("id")
    df.repartition(40).write.parquet(dir)
    Compaction.parquetFileCount(spark, dir) shouldBe 40
    val r = Compaction.compact(spark, dir, targetFileBytes = 1L * 1024 * 1024)
    r.filesBefore shouldBe 40
    r.filesAfter should be < 5
    spark.read.parquet(dir).count() shouldBe 10000
    // temp/old dirs are gone after the swap
    swapLeftovers(dir) shouldBe empty
  }

  test("a crash between swapRewrite's two renames heals: the next compact " +
       "or zorder restores the table from __rewrite_old, rows intact") {
    import graft.lakehouse.{Compaction, ZOrder}
    // the hidden sibling names, and the visible ones earlier releases used
    def hidden(dir: String, suffix: String) = {
      val f = new java.io.File(dir)
      s"${f.getParent}/.${f.getName}$suffix"
    }
    def visible(dir: String, suffix: String) = dir + suffix
    for (op <- Seq("compact", "zorder");
         (naming, sibling) <- Seq("hidden" -> hidden _, "visible" -> visible _))
        withClue(s"$op, $naming siblings: ") {
      val dir = tmpDir("swap-crash") + "/t"
      spark.range(1000).toDF("id").repartition(8).write.parquet(dir)
      // the state the crash leaves: the table moved aside, and a fully
      // written rewrite not yet published
      new java.io.File(dir).renameTo(
        new java.io.File(sibling(dir, "__rewrite_old"))) shouldBe true
      spark.range(5).toDF("id").write.parquet(sibling(dir, "__rewrite_tmp"))
      if (op == "compact") Compaction.compact(spark, dir, targetFileBytes = 1L * 1024 * 1024)
      else ZOrder.rewrite(spark, dir, Seq("id"), targetFileBytes = 1L * 1024 * 1024)
      val back = spark.read.parquet(dir)
      back.count() shouldBe 1000
      back.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) shouldBe 499500L
      swapLeftovers(dir) shouldBe empty
    }
  }

  test("a rewrite never deletes rows a crashed swap left beside a " +
       "recreated table, and drops a superseded __rewrite_old") {
    import graft.lakehouse.{Compaction, ZOrder}
    def rows(d: String) = spark.read.parquet(d).count()
    for (op <- Seq("compact", "zorder")) withClue(s"$op: ") {
      def rewrite(dir: String): Unit =
        if (op == "compact") Compaction.compact(spark, dir, 1L * 1024 * 1024)
        else ZOrder.rewrite(spark, dir, Seq("id"), 1L * 1024 * 1024)
      // a crash between the renames left the 1000-row table aside and its
      // complete rewrite in tmp; an ingest then recreated the table
      val dir = tmpDir("swap-recreated") + "/t"
      spark.range(1000).toDF("id").write.parquet(dir + "__rewrite_old")
      spark.range(1000).toDF("id").coalesce(1).write.parquet(dir + "__rewrite_tmp")
      spark.range(1000, 1005).toDF("id").write.parquet(dir)
      intercept[IllegalStateException](rewrite(dir)).getMessage should (
        include(s"$dir ") and include(s"${dir}__rewrite_old"))
      rows(dir + "__rewrite_old") + rows(dir) shouldBe 1005L
      // a crash after the publish left the superseded table beside the
      // published one: the next rewrite drops it
      val done = tmpDir("swap-published") + "/t"
      spark.range(1000).toDF("id").write.parquet(done + "__rewrite_old")
      spark.range(1000).toDF("id").coalesce(1).write.parquet(done)
      rewrite(done)
      rows(done) shouldBe 1000L
      new java.io.File(done + "__rewrite_old").exists() shouldBe false
    }
  }

  test("compactPartitioned compacts each partition dir independently") {
    import graft.lakehouse.Compaction
    val dir = tmpDir("pcompact") + "/t"
    Seq.tabulate(2000)(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "part")
      .repartition(10).write.partitionBy("part").parquet(dir)
    val results = Compaction.compactPartitioned(spark, dir,
      targetFileBytes = 10L * 1024 * 1024)
    results.keySet shouldBe Set("part=a", "part=b")
    all(results.values.map(_.filesAfter)) shouldBe 1
    // data intact, partition layout preserved
    val back = spark.read.parquet(dir)
    back.count() shouldBe 2000
    back.where("part = 'a'").count() shouldBe 1000
    // second run is a no-op (already compact)
    Compaction.compactPartitioned(spark, dir) shouldBe empty
  }

  test("a partition's swap sibling stays out of the table: a 100-row " +
       "table reads 100 rows mid-rewrite, and compactPartitioned skips it") {
    import graft.lakehouse.Compaction
    val dir = tmpDir("psibling") + "/t"
    val df = Seq.tabulate(100)(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "part")
    df.where("part = 'a'").coalesce(1).write.partitionBy("part").parquet(dir)
    df.where("part = 'b'").repartition(4)
      .write.mode("append").partitionBy("part").parquet(dir)
    // a rewrite of part=a stopped after landing its new files, before the
    // swap: the state every reader sees while that partition compacts
    intercept[IllegalStateException] {
      Compaction.swapRewrite(spark, s"$dir/part=a") { tmp =>
        spark.read.parquet(s"$dir/part=a").repartition(2).write.parquet(tmp)
        throw new IllegalStateException("stopped before the swap")
      }
    }
    val sibling = swapLeftovers(s"$dir/part=a")
    sibling should have size 1
    spark.read.parquet(dir).count() shouldBe 100L
    // part=a is one file (below minFiles); its sibling is not a partition
    Compaction.compactPartitioned(spark, dir).keySet shouldBe Set("part=b")
    new java.io.File(dir, sibling.head).exists() shouldBe true
    spark.read.parquet(dir).select("part").distinct().as[String]
      .collect().sorted shouldBe Array("a", "b")
  }

  test("FileReader passes 'avro' through to the datasource resolver (contract)") {
    // no spark-avro module ships in this sandbox, so the read must fail AT
    // THE RESOLVER with an avro-specific error — proving the format string
    // reaches Spark unmodified (with the jar present the same reader works)
    val e = intercept[Exception] {
      FileReader("avro", tmpDir("avro")).read(spark).collect()
    }
    e.getMessage.toLowerCase should include("avro")
    // streaming leg resolves through the same builder path
    val s = intercept[Exception] {
      FileReader("avro", tmpDir("avro-stream"), streaming = true).read(spark)
    }
    s.getMessage.toLowerCase should include("avro")
    // binary formats never get the PERMISSIVE corrupt-record column bolted
    // onto their schema (that contract is csv/json-only)
    val withCorrupt = intercept[Exception] {
      FileReader("avro", tmpDir("avro-c"),
        schema = Some(new org.apache.spark.sql.types.StructType()
          .add("id", "long")),
        corruptColumn = Some("_corrupt")).read(spark).collect()
    }
    withCorrupt.getMessage.toLowerCase should include("avro")
  }

  test("Retention: metadata cutoff drops expired rows; predicate prunes partitions") {
    import java.time.LocalDate
    import graft.lakehouse.Retention
    val schema = new graft.schema.SchemaRegistry("examples/schemas")
      .getSchema("payments", "customers")
    Retention.retentionDays(schema, "signup_date") shouldBe Some(90L)
    Retention.retentionDays(schema, "email") shouldBe None

    val dir = tmpDir("retention") + "/t"
    val df = Seq(
      (1L, java.sql.Date.valueOf("2026-01-01")),  // expired (224d old)
      (2L, java.sql.Date.valueOf("2026-06-01")),  // 72d old: kept
      (3L, java.sql.Date.valueOf("2026-08-01"))   // fresh: kept
    ).toDF("customer_id", "signup_date")
    df.write.partitionBy("signup_date").parquet(dir)
    val asOf = LocalDate.of(2026, 8, 12)

    val table = spark.read.parquet(dir)
    val kept = Retention.currentRowsBySchema(table, schema, "signup_date", asOf)
    kept.select("customer_id").as[Long].collect().sorted shouldBe Array(2L, 3L)
    // the cutoff is a literal on the PARTITION column -> partition pruning
    kept.collect()
    kept.queryExecution.executedPlan.toString should
      include regex "PartitionFilters: \\[.*signup_date"

    // in-place enforcement: rewrite + atomic swap
    val r = Retention.enforce(spark, dir, "signup_date", days = 90, asOf = asOf,
      partitionCols = Seq("signup_date"))
    r.rowsBefore shouldBe 3
    r.rowsAfter shouldBe 2
    spark.read.parquet(dir).select("customer_id").as[Long].collect().sorted shouldBe
      Array(2L, 3L)
    swapLeftovers(dir) shouldBe empty
  }

  test("Retention.enforcePartitioned deletes expired partitions wholesale") {
    import java.time.LocalDate
    import graft.lakehouse.Retention
    val dir = tmpDir("pretention") + "/t"
    Seq(
      (1L, java.sql.Date.valueOf("2026-01-01")),
      (2L, java.sql.Date.valueOf("2026-06-01")),
      (3L, java.sql.Date.valueOf("2026-08-01"))
    ).toDF("id", "day").write.partitionBy("day").parquet(dir)
    val removed = Retention.enforcePartitioned(spark, dir, "day", days = 90,
      asOf = LocalDate.of(2026, 8, 12))
    removed shouldBe Seq("day=2026-01-01")
    spark.read.parquet(dir).select("id").as[Long].collect().sorted shouldBe
      Array(2L, 3L)
    // idempotent: nothing left to remove
    Retention.enforcePartitioned(spark, dir, "day", days = 90,
      asOf = LocalDate.of(2026, 8, 12)) shouldBe empty
  }

  test("ZOrder refuses (and zkey auto-fits) keys wider than 63 bits") {
    import org.apache.spark.sql.functions.col
    // 8 cols x 8 bits = 64 would wrap shifts mod 64 -> corrupt keys
    an[IllegalArgumentException] should be thrownBy
      ZOrder.interleave((1 to 8).map(i => col(s"c$i")), bits = 8)
    // zkey shrinks per-column bits instead of failing
    val df = spark.range(100).selectExpr(
      (1 to 8).map(i => s"cast(id * $i as double) as c$i"): _*)
    noException should be thrownBy
      ZOrder.zkey(df, (1 to 8).map(i => s"c$i"), bits = 8)
  }
}
