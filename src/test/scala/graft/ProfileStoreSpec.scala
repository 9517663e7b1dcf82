package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.Commit
import graft.metrics.ProfileStore

/** Monoid laws for incremental profiles: batch profiles folded in any
  * order and grouping equal the direct whole-table profile — the property
  * that makes incremental maintenance exact at 100 TB. */
class ProfileStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val cols = Seq("doc_id", "lang", "n_chars")

  private def exact(df: org.apache.spark.sql.DataFrame) =
    df.select("column", "dtype", "n_rows", "n_null", "min_s", "max_s", "sum_l")
      .orderBy("column").collect().toSeq

  test("merged batch profiles equal the direct whole-table profile exactly") {
    val docs = graft.tables.Tables.documents(spark, dir)
    val batches = (0 until 3).map(b => docs.filter(col("doc_id") % 3 === b))
    val merged = ProfileStore.merge(
      batches.map(ProfileStore.profile(_, cols)).reduce(_ unionByName _))
    exact(merged) shouldBe exact(ProfileStore.profile(docs, cols))
  }

  test("merge is order-insensitive and regroupable (associative fold)") {
    val docs = graft.tables.Tables.documents(spark, dir)
    val b = (0 until 3).map(i =>
      ProfileStore.profile(docs.filter(col("doc_id") % 3 === i), cols))
    val oneShot = ProfileStore.merge(b(0).unionByName(b(1)).unionByName(b(2)))
    val nested = ProfileStore.merge(
      ProfileStore.merge(b(2).unionByName(b(0))).unionByName(b(1)))
    exact(oneShot) shouldBe exact(nested)
  }

  test("native-type min/max: long columns don't fall into the string trap") {
    import spark.implicits._
    // lexicographic min of {"9", "10"} is "10" — native long min must win
    val a = ProfileStore.profile(Seq(9L).toDF("v"), Seq("v"))
    val b = ProfileStore.profile(Seq(10L).toDF("v"), Seq("v"))
    val m = ProfileStore.merge(a.unionByName(b)).collect()(0)
    m.getAs[String]("min_s") shouldBe "9"
    m.getAs[String]("max_s") shouldBe "10"
  }

  test("double/decimal/date min/max fold numerically, not lexicographically") {
    import spark.implicits._
    // lexicographic min of {"10.5", "9.5"} is "10.5" — the r6 advice bug
    val a = ProfileStore.profile(Seq(10.5d).toDF("v"), Seq("v"))
    val b = ProfileStore.profile(Seq(9.5d).toDF("v"), Seq("v"))
    val m = ProfileStore.merge(a.unionByName(b)).collect()(0)
    m.getAs[String]("min_s") shouldBe "9.5"
    m.getAs[String]("max_s") shouldBe "10.5"
    // decimal keeps its recorded rendering (scale intact) through the fold
    val da = ProfileStore.profile(
      Seq(BigDecimal("10.50")).toDF("v")
        .select(col("v").cast("decimal(18,2)").as("v")), Seq("v"))
    val db = ProfileStore.profile(
      Seq(BigDecimal("9.50")).toDF("v")
        .select(col("v").cast("decimal(18,2)").as("v")), Seq("v"))
    val dm = ProfileStore.merge(da.unionByName(db)).collect()(0)
    dm.getAs[String]("min_s") shouldBe "9.50"
    dm.getAs[String]("max_s") shouldBe "10.50"
    // float goes through the same numeric branch
    val fa = ProfileStore.profile(Seq(10.5f).toDF("v"), Seq("v"))
    val fb = ProfileStore.profile(Seq(9.5f).toDF("v"), Seq("v"))
    val fm = ProfileStore.merge(fa.unionByName(fb)).collect()(0)
    fm.getAs[String]("min_s") shouldBe "9.5"
    // ISO dates order lexicographically — the string branch is correct
    val ta = ProfileStore.profile(
      Seq("2024-01-02").toDF("v").select(col("v").cast("date").as("v")),
      Seq("v"))
    val tb = ProfileStore.profile(
      Seq("2023-12-31").toDF("v").select(col("v").cast("date").as("v")),
      Seq("v"))
    val tm = ProfileStore.merge(ta.unionByName(tb)).collect()(0)
    tm.getAs[String]("min_s") shouldBe "2023-12-31"
    tm.getAs[String]("max_s") shouldBe "2024-01-02"
  }

  test("state-dir round trip: append batches, fold, distinct estimate sane") {
    val docs = graft.tables.Tables.documents(spark, dir)
    val state = tmpDir("profile-state")
    (0 until 3).foreach(i => ProfileStore.fold(spark, state, s"$state-src/$i",
      cols)(docs.filter(col("doc_id") % 3 === i)))
    val s = ProfileStore.summary(ProfileStore.current(spark, state))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    val n = docs.count()
    s("doc_id").getAs[Long]("n_rows") shouldBe n
    s("doc_id").getAs[Long]("sum_l") shouldBe
      docs.agg(sum(col("doc_id"))).head.getLong(0)
    // HLL union across batches: doc_id is unique per row → estimate ≈ n
    val est = s("doc_id").getAs[Long]("n_distinct_approx").toDouble
    est shouldBe (n.toDouble +- n * 0.05)
    // lang has 5 distinct values; a tiny-cardinality sketch is near-exact
    s("lang").getAs[Long]("n_distinct_approx") shouldBe 5L
  }

  test("a parent-format store is the first fold's base: summary " +
       "identical, its batches never refold, later batches fold on top, " +
       "orphan generations never adopted") {
    val docs = graft.tables.Tables.documents(spark, dir)
    val state = tmpDir("profile-parent")
    def slice(i: Int) = docs.filter(col("doc_id") % 5 === i)
    def src(i: Int) = s"$state-src/slice=$i"
    def fold(i: Int) = ProfileStore.fold(spark, state, src(i), cols)(slice(i))
    // mixed parent layouts: plain appends (root files), a rename-era unit,
    // and a keyed unit with its commit record
    ProfileStore.profile(slice(0), cols).write.mode("append").parquet(state)
    ProfileStore.profile(slice(1), cols)
      .write.parquet(s"$state/batch-${Commit.batchKeyFor(src(1))}")
    ProfileStore.profile(slice(2), cols)
      .write.parquet(s"$state/batch-p-${Commit.batchKeyFor(src(2))}")
    Files.createDirectories(Paths.get(state, "_commits"))
    Files.createFile(Paths.get(state, "_commits", Commit.batchKeyFor(src(2))))
    def summaryRows() = ProfileStore
      .summary(ProfileStore.current(spark, state))
      .collect().map(_.toString).toSeq.sorted
    // the parent's summary: its three batches' profiles merged
    val before = ProfileStore.summary(ProfileStore.merge((0 to 2)
      .map(i => ProfileStore.profile(slice(i), cols)).reduce(_ unionByName _)))
      .collect().map(_.toString).toSeq.sorted
    // an uncommitted generation from a crashed attempt holding the WHOLE
    // table's profile (worst case: adopting it would double every count)
    ProfileStore.profile(docs, cols).write.parquet(s"$state/state-p-000001-000000")
    // unread until its next fold upgrades it
    intercept[IllegalStateException](summaryRows()).getMessage should
      include("older layout")
    // replays of the parent's batches skip: the first upgrades the store
    // into one committed generation, neither folds its batch again
    fold(1)
    fold(2)
    def committed() = new java.io.File(s"$state/_commits").list()
      .count(_.forall(_.isDigit))
    committed() shouldBe 1
    summaryRows() shouldBe before
    // later batches fold on top, one generation each
    fold(3)
    fold(4)
    def all() = ProfileStore.summary(ProfileStore.current(spark, state))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    all()("doc_id").getAs[Long]("n_rows") shouldBe docs.count()
    all()("doc_id").getAs[Long]("sum_l") shouldBe
      docs.agg(sum(col("doc_id"))).head.getLong(0)
    committed() shouldBe 3
    // replays after generations exist still skip
    (1 to 4).foreach(fold)
    all()("doc_id").getAs[Long]("n_rows") shouldBe docs.count()
    committed() shouldBe 3
  }

  test("nulls count per batch and never poison min/max or sums") {
    import spark.implicits._
    val a = ProfileStore.profile(
      Seq(Some(5L), None).toDF("v"), Seq("v"))
    val b = ProfileStore.profile(
      Seq(Some(2L), None, None).toDF("v"), Seq("v"))
    val m = ProfileStore.merge(a.unionByName(b)).collect()(0)
    m.getAs[Long]("n_rows") shouldBe 5L
    m.getAs[Long]("n_null") shouldBe 3L
    m.getAs[String]("min_s") shouldBe "2"
    m.getAs[String]("max_s") shouldBe "5"
    m.getAs[Long]("sum_l") shouldBe 7L
  }
}
