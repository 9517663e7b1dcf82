package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

import graft.tables.Tables

/** The declared testdata schemas: each loader reads exactly the files'
  * footer schema, the same rows as an inferring read, and a load neither
  * starts a Spark job nor writes session conf. */
class TablesSpec extends SparkSpec {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1", "perfbench/data/sf0.001")
    .filter(d => new java.io.File(d, "region.parquet").isFile)
  private val dir = "/root/testdata/sf0.001"

  private val loaders: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] =
    Seq("region" -> Tables.region _, "nation" -> Tables.nation _,
      "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
      "part" -> Tables.part _, "orders" -> Tables.orders _,
      "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
      "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)

  /** The footer schema as Spark infers it, with its `timestamp_ntz`
    * columns read as `timestamp`. */
  private def footerSchema(path: String): StructType =
    StructType(spark.read.parquet(path).schema.map(f =>
      if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType) else f))

  test("every loader's schema equals its parquet footer at every scale factor") {
    loaders.map(_._1) shouldBe Tables.names
    sfDirs should not be empty
    for (d <- sfDirs; (name, load) <- loaders)
      withClue(s"$d/$name: ") {
        load(spark, d).schema shouldBe footerSchema(s"$d/$name.parquet")
      }
  }

  test("timestamp tables read the same rows as an inferring read") {
    // a separate session carries the legacy inference conf, so the shared
    // session's conf stays untouched
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for (name <- Seq("orders", "lineitem", "events")) withClue(s"$name: ") {
      val declared = Tables.load(spark, dir, name)
      val inferred = legacy.read.parquet(s"$dir/$name.parquet")
      declared.collect().toSeq should contain theSameElementsInOrderAs
        inferred.collect().toSeq
    }
  }

  test("loading all tables and building queries leaves the session conf unchanged") {
    // a fresh session: a conf an earlier suite's loads left in the shared
    // session cannot hide a write here
    val session = spark.newSession()
    val before = session.conf.getAll
    Tables.names.foreach(Tables.load(session, dir, _).schema)
    // q01 reads lineitem; q18 reads events and orders
    Seq("q01_agg_summary", "q18_time_windows").foreach { q =>
      SparkEntry.queries(q)(session, dir).count() should be > 0L
    }
    session.conf.getAll shouldBe before
  }

  test("table loads start no Spark job") {
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-load", "table loads")
      loaders.foreach { case (_, load) => load(spark, dir).schema }
      // the listener bus delivers events in order: once the sentinel job's
      // start is seen, every job the loads started has been seen too
      sc.setJobGroup("tables-sentinel", "sentinel")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("tables-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      groups.asScala.toSeq should contain("tables-sentinel")
      groups.asScala.toSeq should not contain "tables-load"
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
