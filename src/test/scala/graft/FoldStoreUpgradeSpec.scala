package graft

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.config.MaintenanceConfig
import graft.core.{Commit, IngestionRunner}
import graft.metrics.ProfileStore
import graft.transform.Ivm

/** Fold stores an older layout wrote upgrade ONCE, on their next fold,
  * into the one layout every reader knows: committed generations plus
  * `_applied` markers. Each fixture plants a store as an earlier release
  * left it, over the (k, v) batches `b0`..`b3`. */
class FoldStoreUpgradeSpec extends SparkSpec {
  import spark.implicits._

  /** A planted store of `kind` (profile, group or min) holding the data
    * of batches `holds`, of which it records `recorded` as folded. */
  private case class Fixture(name: String, kind: String, holds: Seq[Int],
                             recorded: Seq[Int],
                             plant: (String, IndexedSeq[String]) => Unit)

  /** Batch `i` holds ("x", i + 1) and ("k<i>", 10 (i + 1)). */
  private def batches(root: String): IndexedSeq[String] = (0 to 3).map { i =>
    val p = s"$root/b$i"
    Seq(("x", i + 1L), (s"k$i", 10L * (i + 1))).toDF("k", "v").write.parquet(p)
    p
  }

  private def legacyKey(src: String) = src.replaceAll("[^A-Za-z0-9._-]", "_")

  private def profileOf(src: String) =
    ProfileStore.profile(spark.read.parquet(src), Seq("v"))

  /** The min state after batches `0..last`, as (k, min_v, n_rows). */
  private def minState(last: Int) =
    (("x", 1L, last + 1L) +: (0 to last).map(j => (s"k$j", 10L * (j + 1), 1L)))
      .toDF("k", "min_v", "n_rows")

  /** A rename-era generation `n` holding `state`, recording `key`. */
  private def plantRenamedGen(store: String, n: Int, key: String,
                              state: org.apache.spark.sql.DataFrame): Unit = {
    val gen = f"$store/state-$n%06d"
    state.write.parquet(gen)
    Files.writeString(Paths.get(gen, "_batch_key"), key)
  }

  private def emptyDir(p: String): Unit = {
    Files.createDirectories(Paths.get(p))
    Files.writeString(Paths.get(p, "junk"), "partial")
  }

  private val fixtures = Seq(
    Fixture("pre-r9 profile: root files, a pre-r8 _applied marker", "profile",
      Seq(0), Seq(0), (st, b) => {
        profileOf(b(0)).write.parquet(st)
        Files.createDirectories(Paths.get(st, "_applied"))
        Files.createFile(Paths.get(st, "_applied", legacyKey(b(0))))
      }),
    Fixture("parent-format profile: root files, keyed and rename-era units, " +
        "a torn unit, an orphan generation, a tmp leftover", "profile",
      Seq(0, 1, 2), Seq(1, 2), (st, b) => {
        profileOf(b(0)).write.parquet(st)
        profileOf(b(1)).write.parquet(s"$st/batch-${Commit.batchKeyFor(b(1))}")
        profileOf(b(2)).write.parquet(s"$st/batch-p-${Commit.batchKeyFor(b(2))}")
        Files.createDirectories(Paths.get(st, "_commits"))
        Files.createFile(Paths.get(st, "_commits", Commit.batchKeyFor(b(2))))
        // uncommitted: b3's torn unit, and a crashed generation holding
        // every batch (adopting it would double every count)
        profileOf(b(3)).write.parquet(s"$st/batch-p-${Commit.batchKeyFor(b(3))}")
        b.map(profileOf).reduce(_ unionByName _).write
          .parquet(s"$st/state-p-000001-000000")
        emptyDir(s"$st/.tmp-stale")
      }),
    Fixture("parent-format group: _batch_key partitions under both key formats",
      "group", Seq(0, 1), Seq(0, 1), (st, b) => {
        def delta(i: Int) = Ivm.viewDelta(Ivm.asZ(spark.read.parquet(b(i))),
          Seq("k"), Seq("v" -> col("v")))
        delta(0).write.parquet(s"$st/_batch_key=${legacyKey(b(0))}")
        delta(1).write.parquet(s"$st/_batch_key=${Commit.batchKeyFor(b(1))}")
      }),
    Fixture("rename-era min generations, the first under a pre-r8 key", "min",
      Seq(0, 1, 2), Seq(0, 1, 2), (st, b) => {
        plantRenamedGen(st, 1, legacyKey(b(0)), minState(0))
        plantRenamedGen(st, 2, Commit.batchKeyFor(b(1)), minState(1))
        plantRenamedGen(st, 3, Commit.batchKeyFor(b(2)), minState(2))
        emptyDir(s"$st/.state-tmp-stale")
      }),
    Fixture("mixed history: a rename-era min generation under a live one",
      "min", Seq(0, 1), Seq(0, 1), (st, b) => {
        Seq(0, 1).foreach(i => IngestionRunner.runMaintenance(spark,
          task("min", st, b(i))))
        new File(s"$st/_commits/000001").delete() shouldBe true
        rmrf(new File(st).listFiles().filter(_.getName.startsWith("state-p-000001-")).head)
        plantRenamedGen(st, 1, Commit.batchKeyFor(b(0)), minState(0))
      }),
    Fixture("generation store with hidden tmp leftovers", "profile",
      Seq(0), Seq(0), (st, b) => {
        IngestionRunner.runMaintenance(spark, task("profile", st, b(0)))
        emptyDir(s"$st/.tmp-stale")
        emptyDir(s"$st/.state-tmp-stale")
      }))

  private def task(kind: String, store: String, src: String) = kind match {
    case "profile" => MaintenanceConfig(`type` = "profile", path = store,
      source = Some(src), columns = Seq("v"))
    case agg => MaintenanceConfig(`type` = "ivm", path = store,
      source = Some(src), keys = Seq("k"), agg = agg,
      sums = if (agg == "group") Seq("v") else Seq.empty,
      columns = if (agg == "min") Seq("v") else Seq.empty,
      viewPath = Some(s"$store-view"))
  }

  /** What the store answers: the profile summary, or the published view. */
  private def answer(kind: String, store: String): Seq[String] =
    (if (kind == "profile") ProfileStore.summary(ProfileStore.current(spark, store))
     else spark.read.parquet(s"$store-view")).collect().map(_.toString).toSeq.sorted

  /** The answer of a fresh store that folded the batches `holds`. */
  private def expected(kind: String, root: String, b: IndexedSeq[String],
                       holds: Seq[Int]): Seq[String] = {
    val fresh = s"$root/fresh-${holds.mkString}"
    holds.foreach(i => IngestionRunner.runMaintenance(spark, task(kind, fresh, b(i))))
    answer(kind, fresh)
  }

  private def commits(store: String): Seq[String] =
    Option(new File(s"$store/_commits").list()).toSeq.flatten
      .filter(_.forall(_.isDigit)).sorted

  /** Root names and `_commits` records no generation store writes. */
  private def legacy(store: String): Seq[String] =
    new File(store).list().toSeq.filterNot(n =>
      n == "_commits" || n == "_applied" || n.startsWith("state-p-")) ++
      Option(new File(s"$store/_commits").list()).toSeq.flatten
        .filterNot(n => n.forall(_.isDigit) || n.endsWith(".crc"))

  /** Every path under `store`, relative to it. */
  private def tree(store: String): Set[String] = {
    val root = Paths.get(store)
    Files.walk(root).iterator().asScala.map(root.relativize(_).toString).toSet
  }

  /** The store's root names, records and markers (checksums aside). */
  private def layout(store: String): Seq[String] =
    Seq("", "_commits", "_applied").flatMap(d =>
      Option(new File(s"$store/$d").list()).toSeq.flatten
        .filterNot(_.endsWith(".crc")).map(n => s"$d/$n")).sorted

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst: Path = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def rmrf(p: File): Unit = {
    if (p.isDirectory) p.listFiles.foreach(rmrf)
    p.delete(); ()
  }

  /** An un-upgraded store fails loudly on read and prune, naming the fold
    * task to run, and is left as it was. */
  private def failsLoudly(kind: String, store: String): Unit = {
    val before = tree(store)
    val prune = MaintenanceConfig(path = store, keep = 1,
      `type` = if (kind == "profile") "profile-compact" else "ivm-prune")
    val calls = Seq(() => IngestionRunner.runMaintenance(spark, prune)) ++
      Option.when(kind == "profile")(() => { ProfileStore.current(spark, store); () })
    calls.foreach { call =>
      intercept[IllegalStateException](call()).getMessage should (
        include("older layout") and include("run its profile or ivm maintenance task"))
    }
    tree(store) shouldBe before
  }

  test("old fold-store layouts upgrade once and un-upgraded stores fail loudly") {
    for ((f, i) <- fixtures.zipWithIndex) withClue(s"${f.name}: ") {
      val root = tmpDir(s"upgrade-$i")
      val b = batches(root)
      val store = s"$root/st"
      f.plant(store, b)
      copyTree(store, s"$root/copy")
      failsLoudly(f.kind, s"$root/copy")
      // a replay of a recorded batch upgrades the store and folds nothing:
      // one generation holds the same answers, and no old name is left
      IngestionRunner.runMaintenance(spark, task(f.kind, store, b(f.recorded.head)))
      val want = expected(f.kind, root, b, f.holds)
      answer(f.kind, store) shouldBe want
      commits(store) should have size 1
      legacy(store) shouldBe empty
      // replays of every recorded batch write nothing
      val upgraded = tree(store)
      f.recorded.foreach(r => IngestionRunner.runMaintenance(spark, task(f.kind, store, b(r))))
      tree(store) shouldBe upgraded
      answer(f.kind, store) shouldBe want
      // a new batch folds on top as the next generation
      IngestionRunner.runMaintenance(spark, task(f.kind, store, b(3)))
      answer(f.kind, store) shouldBe expected(f.kind, root, b, f.holds :+ 3)
      commits(store) should have size 2
    }
  }

  test("an upgrade stopped after its markers or its generation heals on rerun") {
    for (f <- fixtures.filter(f => f.name.startsWith("parent-format"))) withClue(s"${f.name}: ") {
      val root = tmpDir("upgrade-crash")
      val b = batches(root)
      val done = s"$root/done"
      f.plant(done, b)
      IngestionRunner.runMaintenance(spark, task(f.kind, done, b(f.recorded.head)))
      val want = answer(f.kind, done)
      // the states a crash leaves: the old layout plus step 1's markers,
      // or plus step 2's committed generation too
      val steps = Seq(Seq("_applied"), Seq("_applied", "_commits") ++
        new File(done).list().filter(_.startsWith("state-p-")))
      for ((parts, n) <- steps.zipWithIndex) withClue(s"after step ${n + 1}: ") {
        val st = s"$root/crash-$n"
        f.plant(st, b)
        parts.foreach(p => copyTree(s"$done/$p", s"$st/$p"))
        failsLoudly(f.kind, st)
        f.recorded.foreach(r => IngestionRunner.runMaintenance(spark, task(f.kind, st, b(r))))
        answer(f.kind, st) shouldBe want
        commits(st) should have size 1
        legacy(st) shouldBe empty
        layout(st) shouldBe layout(done)
      }
    }
  }

  test("only core/Commit spells a fold-store on-disk name") {
    val names = Seq("_commits", "_applied", "_batch_key", "state-", "batch-")
    val main = Paths.get("src/main/scala")
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.size should be > 50
    def spelled(p: Path) = ScalaSource.literals(Files.readString(p))
      .flatMap(l => names.filter(l.contains)).distinct
    spelled(main.resolve("graft/core/Commit.scala")) should contain theSameElementsAs names
    files.filterNot(_.endsWith("graft/core/Commit.scala"))
      .map(p => p -> spelled(p)).filter(_._2.nonEmpty) shouldBe empty
  }
}
