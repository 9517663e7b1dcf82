package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** THE machine gate for the bucketed persistent dedup indexes (r9
  * verdict task 1): `dedupBatch` against a stored
  * [[graft.similarity.DedupIndex]]/[[graft.similarity.MediaDedupIndex]]
  * must never exchange the CORPUS side of its joins — the band-key
  * candidate join and the fingerprint verify join read the bucketed
  * tables in place and only the batch side is shuffled to the bucket
  * layout. This is the property that makes per-micro-batch dedup
  * O(batch) shuffle at 100 TB; before bucketing, the full corpus band
  * index was repartitioned on every batch.
  *
  * AQE and auto-broadcast are disabled inside these tests so the pinned
  * plan is the deterministic non-broadcast shape (the hard case: a batch
  * too big to broadcast still must not move the corpus). The explicit
  * `broadcast()` hints inside the cap fold are unaffected by the
  * threshold — only the tiny batch-derived frames are ever broadcast.
  */
class BucketedIndexPlanSpec extends SparkSpec {

  private def withStaticPlan[A](body: => A): A = withStaticPlanOn(spark)(body)

  private def withStaticPlanOn[A](session: SparkSession)(body: => A): A = {
    val conf = session.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    val thr = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    }
  }

  /** Root-to-node path to the first node matching `pred` (depth-first). */
  private def pathTo(plan: SparkPlan,
                     pred: SparkPlan => Boolean): Option[List[SparkPlan]] =
    if (pred(plan)) Some(List(plan))
    else plan.children.view.flatMap(c => pathTo(c, pred)).headOption
      .map(plan :: _)

  private def isJoin(p: SparkPlan): Boolean = p match {
    case _: SortMergeJoinExec | _: ShuffledHashJoinExec |
         _: BroadcastHashJoinExec => true
    case _ => false
  }

  /** Assert: the scan of the corpus table whose location contains
    * `locPart` is bucketed, and NO exchange (shuffle or broadcast) sits
    * between it and its nearest enclosing join. Exchanges ABOVE the join
    * (the batch side's repartition to the bucket layout, the candidate
    * distinct) are the O(batch) part and are allowed. */
  private def assertCorpusSideUnshuffled(df: DataFrame, locPart: String): Unit = {
    val plan = df.queryExecution.executedPlan
    val path = pathTo(plan, {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(locPart))
      case _ => false
    }).getOrElse(fail(s"no file scan of $locPart in plan:\n$plan"))
    val scan = path.last.asInstanceOf[FileSourceScanExec]
    withClue(s"scan of $locPart must be a bucketed table scan:\n$scan\n") {
      scan.relation.bucketSpec.isDefined shouldBe true
      scan.toString should include("Bucketed: true")
    }
    val joinIdx = path.lastIndexWhere(isJoin)
    withClue(s"no join above the $locPart scan:\n$plan\n") {
      joinIdx should be >= 0
    }
    val between = path.drop(joinIdx + 1)
    withClue(s"corpus side of $locPart join must carry no exchange:\n" +
      between.mkString("\n---\n") + "\n") {
      between.exists {
        case _: ShuffleExchangeExec | _: BroadcastExchangeExec => true
        case _ => false
      } shouldBe false
    }
  }

  test("DedupIndex.dedupBatch: bucketed corpus bands + fingerprints are " +
       "never exchanged; only the batch side shuffles") {
    import spark.implicits._
    val path = tmpDir("bidx-text")
    val corpus = (0L until 200L)
      .map(i => (i, s"alpha beta gamma delta epsilon zeta eta theta doc $i " +
        s"unique ${i * 37} filler ${i % 7}"))
      .toDF("doc_id", "text")
    graft.similarity.DedupIndex.build(corpus, "doc_id", "text", path)
    val batch = (1000L until 1020L)
      .map(i => (i, s"alpha beta gamma delta epsilon zeta eta theta doc ${i - 1000} " +
        s"unique ${(i - 1000) * 37} filler ${i % 7}"))
      .toDF("doc_id", "text")
    withStaticPlan {
      val df = graft.similarity.DedupIndex.dedupBatch(spark, path, batch,
        "doc_id", "text", threshold = 0.3, maxBucket = Some(100))
      assertCorpusSideUnshuffled(df, "/bands")
      assertCorpusSideUnshuffled(df, "/fingerprints")
      // and the plan is not a paper tiger: it finds the near-dups
      df.count() should be >= 10L
    }
  }

  test("MediaDedupIndex.dedupBatch: bucketed corpus band table is never " +
       "exchanged; only the batch side shuffles") {
    import spark.implicits._
    val path = tmpDir("bidx-media")
    val corpus = (0L until 200L).map(i => (i, i * 1024L + (i % 13)))
      .toDF("media_id", "dhash")
    graft.similarity.MediaDedupIndex.build(corpus, "media_id", "dhash", path)
    val batch = (1000L until 1010L)
      .map(i => (i, (i - 1000L) * 1024L + ((i - 1000L) % 13) ^ 1L))
      .toDF("media_id", "dhash")
    withStaticPlan {
      val df = graft.similarity.MediaDedupIndex.dedupBatch(spark, path, batch,
        "media_id", "dhash", maxHamming = 2, maxBucket = Some(100))
      assertCorpusSideUnshuffled(df, "/bands")
      df.count() should be >= 1L
    }
  }

  test("a fresh session re-registers the bucketed tables over the " +
       "existing files (schema from footers, bucket ids from file names) " +
       "and keeps the shuffle-free plan") {
    import spark.implicits._
    val path = tmpDir("bidx-reregister")
    val corpus = (0L until 80L)
      .map(i => (i, s"kappa lambda mu nu xi omicron doc $i tail ${i * 13}"))
      .toDF("doc_id", "text")
    graft.similarity.DedupIndex.build(corpus, "doc_id", "text", path)
    // a NEW session shares nothing with the writer but the files: the
    // bucket spec comes from the manifest, bucket ids from file names
    val fresh = spark.newSession()
    val batch = fresh.createDataFrame(
        Seq((900L, "kappa lambda mu nu xi omicron doc 3 tail 39")))
      .toDF("doc_id", "text")
    withStaticPlanOn(fresh) {
      val df = graft.similarity.DedupIndex.dedupBatch(fresh, path, batch,
        "doc_id", "text", threshold = 0.3, maxBucket = Some(100))
      // the fresh session reads BUCKETED scans, not plain file scans
      assertCorpusSideUnshuffled(df, "/bands")
      assertCorpusSideUnshuffled(df, "/fingerprints")
      df.select("corpus_id").as[Long].collect() should contain(3L)
    }
    // the fresh session appends in the manifest's layout
    graft.similarity.DedupIndex.append(batch, "doc_id", "text", path)
    graft.similarity.DedupIndex.load(fresh, path)._1.count() shouldBe 81L
  }

  test("compact: many appends grow per-bucket file counts; compaction " +
       "returns them to ~1/bucket, folds band_sizes to one snapshot, and " +
       "the no-corpus-Exchange pins stay green on the compacted table") {
    import spark.implicits._
    val path = tmpDir("bidx-compact")
    def docs(lo: Long, hi: Long) = (lo until hi)
      .map(i => (i, s"rho sigma tau upsilon phi doc $i tail ${i * 13}"))
      .toDF("doc_id", "text")
    graft.similarity.DedupIndex.build(docs(0L, 60L), "doc_id", "text", path)
    (1 to 5).foreach(b =>
      graft.similarity.DedupIndex.append(
        docs(b * 100L, b * 100L + 20L), "doc_id", "text", path))
    import graft.lakehouse.Compaction.parquetFileCount
    // 6 writes x 8 buckets: the growth the compactor exists to reset
    parquetFileCount(spark, path + "/bands") should be > 8
    parquetFileCount(spark, path + "/band_sizes") should be >= 6
    val probe = docs(0L, 10L).withColumn("doc_id", col("doc_id") + 9000L)
    val preResult = graft.similarity.DedupIndex
      .dedupBatch(spark, path, probe, "doc_id", "text", threshold = 0.3)
      .orderBy("corpus_id", "batch_id")
      .as[(Long, Long, Double)].collect().toSeq
    // a dedup frame PLANNED before the compaction (its file listing
    // resolves against the pre-compaction layout) must still execute
    // correctly AFTER it — the grace retention of retired dirs
    val inFlight = graft.similarity.DedupIndex
      .dedupBatch(spark, path, probe, "doc_id", "text", threshold = 0.3)
    inFlight.queryExecution.executedPlan // force planning + file listing
    val stats = graft.similarity.DedupIndex.compact(spark, path)
    stats("bands").filesAfter shouldBe 8 // exactly one file per bucket
    stats("fingerprints").filesAfter shouldBe 8
    inFlight.orderBy("corpus_id", "batch_id")
      .as[(Long, Long, Double)].collect().toSeq shouldBe preResult
    // the live layout moved to _v1; the retired v0 dirs survive one cycle
    parquetFileCount(spark, path + "/band_sizes_v1") shouldBe 1
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(path + "/bands")) shouldBe true
    // results are byte-identical and the bucketed-plan property holds
    withStaticPlan {
      val df = graft.similarity.DedupIndex.dedupBatch(spark, path,
        docs(0L, 10L).withColumn("doc_id", col("doc_id") + 9000L),
        "doc_id", "text", threshold = 0.3)
      assertCorpusSideUnshuffled(df, "/bands_v1")
      assertCorpusSideUnshuffled(df, "/fingerprints_v1")
      df.orderBy("corpus_id", "batch_id")
        .as[(Long, Long, Double)].collect().toSeq shouldBe preResult
    }
    // the index still appends normally after the publish
    graft.similarity.DedupIndex.append(docs(700L, 705L), "doc_id", "text", path)
    graft.similarity.DedupIndex.load(spark, path)._1.count() shouldBe 165L
    // the NEXT maintenance run reclaims the grace-retired v0 dirs
    graft.similarity.DedupIndex.compact(spark, path)
    fs.exists(new org.apache.hadoop.fs.Path(path + "/bands")) shouldBe false
    fs.exists(new org.apache.hadoop.fs.Path(path + "/band_sizes")) shouldBe false
    fs.exists(new org.apache.hadoop.fs.Path(path + "/bands_v1")) shouldBe true
    graft.similarity.DedupIndex.load(spark, path)._1.count() shouldBe 165L
  }

  test("rebucket: dedupBatch results identical before/after, plan pins " +
       "green at the new bucket count, appends use the new layout, and a " +
       "crash-orphaned _v dir is never read") {
    import spark.implicits._
    val path = tmpDir("bidx-rebucket")
    def docs(lo: Long, hi: Long) = (lo until hi)
      .map(i => (i, s"chi psi omega doc $i tail ${i * 29}"))
      .toDF("doc_id", "text")
    graft.similarity.DedupIndex.build(docs(0L, 80L), "doc_id", "text", path,
      numBuckets = 4)
    val probe = docs(0L, 10L).withColumn("doc_id", col("doc_id") + 9000L)
    def result() = graft.similarity.DedupIndex
      .dedupBatch(spark, path, probe, "doc_id", "text", threshold = 0.3)
      .orderBy("corpus_id", "batch_id")
      .as[(Long, Long, Double)].collect().toSeq
    val before = result()
    before should not be empty
    // a crashed earlier rebucket attempt leaves an unpublished _v1 dir;
    // the live manifest (version 0) must keep reading the old layout
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path + "/fingerprints_v1"))
    result() shouldBe before
    graft.similarity.DedupIndex.rebucket(spark, path, newBuckets = 16)
    graft.similarity.DedupIndex.manifest(spark, path).numBuckets shouldBe 16
    withStaticPlan {
      val df = graft.similarity.DedupIndex.dedupBatch(spark, path, probe,
        "doc_id", "text", threshold = 0.3)
      assertCorpusSideUnshuffled(df, "/bands_v1")
      assertCorpusSideUnshuffled(df, "/fingerprints_v1")
      df.orderBy("corpus_id", "batch_id")
        .as[(Long, Long, Double)].collect().toSeq shouldBe before
    }
    // the old dirs are RETIRED in place (grace: in-flight scans in other
    // sessions finish against their resolved listings); appends land in
    // the new layout
    fs.exists(new org.apache.hadoop.fs.Path(path + "/bands")) shouldBe true
    graft.similarity.DedupIndex.append(docs(500L, 510L), "doc_id", "text", path)
    graft.similarity.DedupIndex.load(spark, path)._1.count() shouldBe 90L
    // the next maintenance run reclaims the retired v0 dirs
    graft.similarity.DedupIndex.compact(spark, path)
    fs.exists(new org.apache.hadoop.fs.Path(path + "/bands")) shouldBe false
    // legacy rename-append still refuses the bucketed layout
    an[IllegalArgumentException] should be thrownBy
      graft.similarity.DedupIndex.appendAtomic(docs(600L, 601L), "doc_id",
        "text", path, "bk1")
  }

  test("media rebucket + compact: same contract on the media index") {
    import spark.implicits._
    val path = tmpDir("bidx-media-rebucket")
    val corpus = (0L until 120L).map(i => (i, i * 2048L + (i % 11)))
      .toDF("media_id", "dhash")
    graft.similarity.MediaDedupIndex.build(corpus, "media_id", "dhash", path,
      numBuckets = 4)
    (1 to 3).foreach(b => graft.similarity.MediaDedupIndex.append(
      (0L until 10L).map(i => (b * 1000L + i, i * 4096L + b))
        .toDF("media_id", "dhash"), "media_id", "dhash", path))
    val batch = (9000L until 9010L)
      .map(i => (i, (i - 9000L) * 2048L + ((i - 9000L) % 11) ^ 1L))
      .toDF("media_id", "dhash")
    def result() = graft.similarity.MediaDedupIndex
      .dedupBatch(spark, path, batch, "media_id", "dhash", maxHamming = 2,
        maxBucket = Some(100))
      .orderBy("corpus_id", "batch_id")
      .as[(Long, Long, Long)].collect().toSeq
    val before = result()
    before should not be empty
    val stats = graft.similarity.MediaDedupIndex.compact(spark, path)
    stats("bands").filesAfter shouldBe 4
    result() shouldBe before
    // compact published _v1; rebucket publishes _v2 (and reclaims v0)
    graft.similarity.MediaDedupIndex.rebucket(spark, path, newBuckets = 8)
    withStaticPlan {
      val df = graft.similarity.MediaDedupIndex.dedupBatch(spark, path,
        batch, "media_id", "dhash", maxHamming = 2, maxBucket = Some(100))
      assertCorpusSideUnshuffled(df, "/bands_v2")
      df.orderBy("corpus_id", "batch_id")
        .as[(Long, Long, Long)].collect().toSeq shouldBe before
    }
  }

  test("cross-session coherence: a session with a warm relation cache " +
       "reads correctly after ANOTHER session compacts the index (the " +
       "manifest flips to the new _v dir; retired files cover any scan " +
       "already in flight)") {
    import spark.implicits._
    val path = tmpDir("bidx-xsession")
    val docs = (0L until 60L)
      .map(i => (i, s"eta theta doc $i tail ${i * 23}"))
      .toDF("doc_id", "text")
    graft.similarity.DedupIndex.build(docs, "doc_id", "text", path)
    (1 to 3).foreach(b => graft.similarity.DedupIndex.append(
      docs.withColumn("doc_id",
        org.apache.spark.sql.functions.col("doc_id") + b * 1000L),
      "doc_id", "text", path))
    val probe = Seq((9000L, "eta theta doc 3 tail 69")).toDF("doc_id", "text")
    // session B warms its own relation cache on the pre-compaction files
    val sessionB = spark.newSession()
    val before = graft.similarity.DedupIndex
      .dedupBatch(sessionB, path, probe, "doc_id", "text", threshold = 0.3)
      .orderBy("corpus_id").as[(Long, Long, Double)](
        org.apache.spark.sql.Encoders.product).collect().toSeq
    before should not be empty
    // session A (the main one) compacts — the layout moves to _v1 and the
    // v0 names are dropped from the shared catalog
    graft.similarity.DedupIndex.compact(spark, path)
    // session B's next read re-derives the _v1 names from the manifest and
    // registers them fresh; its stale v0 relation cache is irrelevant (and
    // even a scan already holding the v0 listing would still succeed — the
    // retired files survive until the next maintenance run)
    graft.similarity.DedupIndex
      .dedupBatch(sessionB, path, probe, "doc_id", "text", threshold = 0.3)
      .orderBy("corpus_id").as[(Long, Long, Double)](
        org.apache.spark.sql.Encoders.product).collect().toSeq shouldBe before
  }

  test("compaction conf isolation: queries planning CONCURRENTLY with a " +
       "compaction keep AQE — the pinned rewrite confs live on a " +
       "dedicated child session, never the caller's") {
    import spark.implicits._
    val path = tmpDir("bidx-conc")
    val docs = (0L until 400L)
      .map(i => (i, s"sigma tau doc $i tail ${i * 17}"))
      .toDF("doc_id", "text")
    graft.similarity.DedupIndex.build(docs, "doc_id", "text", path)
    (1 to 2).foreach(b => graft.similarity.DedupIndex.append(
      docs.select((col("doc_id") + b * 1000L).as("doc_id"), col("text")),
      "doc_id", "text", path))
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    @volatile var failure: Option[Throwable] = None
    val compactor = new Thread(() => {
      try { graft.similarity.DedupIndex.compact(spark, path); () }
      catch { case t: Throwable => failure = Some(t) }
    })
    compactor.start()
    // plan (don't execute) queries continuously WHILE the rewrite runs:
    // every plan must come out adaptive, and the session conf must never
    // read false — the r11 implementation flipped the session-global conf
    // around the rewrite, so a concurrently-planned query could silently
    // lose AQE
    var checked = 0
    while (compactor.isAlive) {
      spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
      val plan = spark.range(100).groupBy((col("id") % 7).as("k"))
        .count().queryExecution.executedPlan
      plan.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec] shouldBe true
      checked += 1
    }
    compactor.join()
    failure.foreach(throw _)
    checked should be > 0
    // and the compaction itself really produced the 1-file/bucket layout
    graft.lakehouse.Compaction.parquetFileCount(spark,
      path + "/bands_v1") shouldBe 8
  }

  test("compact crash-window: an orphan _v1 layout from a crashed attempt " +
       "(written but never manifest-published) is reclaimed, never adopted " +
       "— the retry publishes exactly one copy of every row") {
    import spark.implicits._
    val path = tmpDir("bidx-crash")
    val docs = (0L until 50L)
      .map(i => (i, s"pi rho doc $i tail ${i * 11}"))
      .toDF("doc_id", "text")
    graft.similarity.DedupIndex.build(docs, "doc_id", "text", path)
    val total = graft.similarity.DedupIndex.load(spark, path)._1.count()
    // plant the crash: a previous compact attempt wrote full _v1 dirs
    // (copies of today's tables — the worst case: adopting them alongside
    // a fresh rewrite would double every row) and died BEFORE the manifest
    // replace, so the manifest still says version 0
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("fingerprints", "bands", "band_sizes").foreach { base =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"$path/$base"),
        fs, new org.apache.hadoop.fs.Path(s"$path/${base}_v1"),
        false, spark.sparkContext.hadoopConfiguration)
      ()
    }
    // reads keep the published v0 layout — the orphan is never read
    graft.similarity.DedupIndex.load(spark, path)._1.count() shouldBe total
    // the retry reclaims/overwrites the orphan and publishes a clean _v1
    graft.similarity.DedupIndex.compact(spark, path)
    graft.similarity.DedupIndex.manifest(spark, path).version shouldBe 1
    graft.similarity.DedupIndex.load(spark, path)._1.count() shouldBe total
    graft.similarity.DedupIndex.load(spark, path)._2.count() shouldBe total * 16
    spark.read.parquet(path + "/band_sizes_v1")
      .agg(org.apache.spark.sql.functions.sum("n")).as[Long]
      .collect().head shouldBe total * 16
  }

  test("manifest-replace crash window: a missing index.json with a " +
       "complete sibling .tmp is PRESENT (healed by promotion), so an " +
       "exists()-gated sink can never silently rebuild the corpus index") {
    import spark.implicits._
    val path = tmpDir("bidx-manifest-crash")
    val corpus = (0L until 40L).map(i => (i, i * 129L)).toDF("media_id", "dhash")
    graft.similarity.MediaDedupIndex.build(corpus, "media_id", "dhash", path)
    val nCodes = graft.similarity.MediaDedupIndex
      .indexedIds(spark, path).count()
    // simulate the crash: the replace deleted index.json but died before
    // renaming the fully-written tmp into place
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new org.apache.hadoop.fs.Path(path, "index.json")
    val tmp = new org.apache.hadoop.fs.Path(path, "index.json.tmp")
    fs.rename(mf, tmp) shouldBe true
    // exists() must report PRESENT and a manifest read must heal the tmp
    graft.similarity.MediaDedupIndex.exists(spark, path) shouldBe true
    graft.similarity.MediaDedupIndex.manifest(spark, path).nBands shouldBe 4
    fs.exists(mf) shouldBe true
    fs.exists(tmp) shouldBe false
    // the sink's first batch after the crash APPENDS instead of rebuilding
    graft.streaming.StreamOps.mediaDedupIndexBatch(
      (500L until 510L).map(i => (i, i * 129L)).toDF("media_id", "dhash"),
      batchId = 0L, "media_id", "dhash", path,
      tmpDir("bidx-manifest-crash-matches"), maxHamming = 2)
    graft.similarity.MediaDedupIndex.indexedIds(spark, path)
      .count() shouldBe nCodes + 10
    // same contract on the text index
    val tpath = tmpDir("bidx-manifest-crash-text")
    graft.similarity.DedupIndex.build(
      (0L until 30L).map(i => (i, s"nu xi doc $i")).toDF("doc_id", "text"),
      "doc_id", "text", tpath)
    val tmf = new org.apache.hadoop.fs.Path(tpath, "index.json")
    fs.rename(tmf, new org.apache.hadoop.fs.Path(tpath, "index.json.tmp")) shouldBe true
    graft.similarity.DedupIndex.exists(spark, tpath) shouldBe true
    graft.similarity.DedupIndex.manifest(spark, tpath).bands shouldBe 16
    fs.exists(tmf) shouldBe true
  }

  test("a stale same-name registration (different bucket count than the " +
       "manifest) is dropped and re-created, not trusted") {
    import spark.implicits._
    val path = tmpDir("bidx-stale")
    val corpus = (0L until 50L)
      .map(i => (i, s"iota kappa doc $i tail ${i * 7}"))
      .toDF("doc_id", "text")
    graft.similarity.DedupIndex.build(corpus, "doc_id", "text", path,
      numBuckets = 8)
    /** The bucket count the bands scan of `df` plans with. */
    def planned(df: DataFrame): Seq[Int] = df.queryExecution.sparkPlan
      .collect { case f: FileSourceScanExec =>
        f.relation.bucketSpec.map(_.numBuckets)
      }.flatten
    planned(graft.similarity.DedupIndex.load(spark, path)._2) shouldBe Seq(8)
    // another session (as another JVM would) rebuilds the index at the
    // same path with 4 buckets
    val other = spark.newSession()
    graft.similarity.DedupIndex.build(other.createDataFrame(
        (0L until 50L).map(i => (i, s"iota kappa doc $i tail ${i * 7}")))
      .toDF("doc_id", "text"), "doc_id", "text", path, numBuckets = 4)
    // this session's next read plans with the manifest's 4 buckets
    val bands = graft.similarity.DedupIndex.load(spark, path)._2
    planned(bands) shouldBe Seq(4)
    bands.queryExecution.sparkPlan.outputPartitioning
      .numPartitions shouldBe 4
    bands.count() shouldBe 50L * 16
    withStaticPlan {
      val df = graft.similarity.DedupIndex.dedupBatch(spark, path,
        Seq((900L, "iota kappa doc 3 tail 21")).toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.3)
      assertCorpusSideUnshuffled(df, "/bands")
      df.select("corpus_id").as[Long].collect() should contain(3L)
    }
  }

  test("an append in another session is seen by this session's next " +
       "read, and a sink replay of the appended batch here appends " +
       "nothing") {
    import spark.implicits._
    val path = tmpDir("bidx-xappend")
    def docs(session: SparkSession, lo: Long, hi: Long) =
      session.createDataFrame((lo until hi)
        .map(i => (i, s"lambda mu nu doc $i tail ${i * 19} end ${i % 5}")))
        .toDF("doc_id", "text")
    graft.similarity.DedupIndex.build(docs(spark, 0L, 40L), "doc_id",
      "text", path)
    val sessionB = spark.newSession()
    // copies of the docs session A is about to append, under fresh ids
    val probe = docs(sessionB, 100L, 110L)
      .withColumn("doc_id", col("doc_id") + 9000L)
    def matched(): Set[Long] = graft.similarity.DedupIndex
      .dedupBatch(sessionB, path, probe, "doc_id", "text", threshold = 0.3)
      .select("corpus_id").as[Long].collect().toSet
    val appended = (100L until 110L).toSet
    matched().intersect(appended) shouldBe empty
    graft.similarity.DedupIndex.append(docs(spark, 100L, 110L), "doc_id",
      "text", path)
    matched() should contain allElementsOf appended
    // B replays the appended batch as a sink batch: every id is indexed
    def stored(): (Long, Long, Long) = {
      val (fps, bands) = graft.similarity.DedupIndex.load(sessionB, path)
      (fps.count(), bands.count(), sessionB.read.parquet(path + "/band_sizes")
        .agg(sum("n")).as[Long].collect().head)
    }
    val before = stored()
    before shouldBe ((50L, 50L * 16, 50L * 16))
    graft.streaming.StreamOps.dedupIndexBatch(docs(sessionB, 100L, 110L),
      batchId = 0L, "doc_id", "text", path, tmpDir("bidx-xappend-matches"),
      threshold = 0.3)
    stored() shouldBe before
  }

  test("no session-catalog call under graft/similarity: the index " +
       "tables live by path") {
    val names = Seq("saveAsTable", ".table(", "spark.catalog",
      "sessionState.catalog", "CREATE TABLE", "DROP TABLE", "TBLPROPERTIES")
    val files = Files.list(Paths.get("src/main/scala/graft/similarity"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    files.size should be > 10
    files.map { p =>
      val code = ScalaSource.uncommented(Files.readString(p))
      val upper = code.toUpperCase // SQL keywords in any case
      p.getFileName.toString -> names.filter(n =>
        code.contains(n) || upper.contains(n))
    }.filter(_._2.nonEmpty) shouldBe empty
  }

  /** Seeded test vectors: all-ones plus a seed-sized spike at dimension
    * seed % dim — two vectors are PARALLEL (cosine exactly 1) iff their
    * seeds are equal, so rank-1 expectations are unambiguous. */
  private def vecsDf(ids: Seq[Long], dim: Int,
                     twin: Long => Long = identity) = {
    import spark.implicits._
    ids.map { i =>
      val s = twin(i)
      (i, Array.tabulate(dim)(j =>
        if (j == (s % dim).toInt) (s + 10).toDouble else 1.0))
    }.toDF("vec_id", "emb")
  }

  test("AnnIndex.queryBatch: bucketed corpus bands + vectors are never " +
       "exchanged; only the query batch shuffles") {
    val path = tmpDir("bidx-ann")
    graft.similarity.AnnIndex.build(vecsDf(0L until 200L, dim = 8),
      "vec_id", "emb", path, nTables = 4, nBits = 4, dim = 8)
    // queries replay corpus vectors 0..19 under fresh ids -> cosine-1 hits
    val batch = vecsDf(1000L until 1020L, dim = 8, twin = _ - 1000L)
    withStaticPlan {
      val df = graft.similarity.AnnIndex.queryBatch(spark, path, batch,
        "vec_id", "emb", k = 3, maxBucket = Some(1000))
      assertCorpusSideUnshuffled(df, "/bands")
      assertCorpusSideUnshuffled(df, "/vectors")
      df.count() should be >= 20L
    }
  }

  test("AnnIndex lifecycle: query -> append -> query sees the appended " +
       "batch as corpus; compact and rebucket preserve results and the " +
       "1-file/bucket + bucketed-plan properties") {
    import spark.implicits._
    val path = tmpDir("bidx-ann-life")
    graft.similarity.AnnIndex.build(vecsDf(0L until 100L, dim = 8),
      "vec_id", "emb", path, nTables = 4, nBits = 4, dim = 8)
    val b1 = vecsDf(1000L until 1010L, dim = 8, twin = _ - 1000L + 200L)
    // batch-1 vectors are NOVEL (seeds 200..209): stage-1 matches are
    // whatever LSH finds in the base corpus
    val m1 = graft.similarity.AnnIndex.queryBatch(spark, path, b1,
      "vec_id", "emb", k = 3, maxBucket = Some(1000)).localCheckpoint(true)
    graft.similarity.AnnIndex.append(b1, "vec_id", "emb", path)
    // batch-2 replays batch-1's vectors under fresh ids: its rank-1
    // neighbors MUST be the batch-1 ids (cosine 1), proving the append
    // joined the corpus
    val b2 = vecsDf(2000L until 2010L, dim = 8, twin = _ - 2000L + 200L)
    def m2() = graft.similarity.AnnIndex.queryBatch(spark, path, b2,
      "vec_id", "emb", k = 3, maxBucket = Some(1000))
    val top = m2().filter(col("rank") === 1L)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (2000L until 2010L).foreach { q =>
      top(q) shouldBe (q - 2000L + 1000L)
    }
    // the checkpointed stage-1 frame must not see batch-1 as corpus
    m1.filter(col("neighbor_id") >= 1000L).count() shouldBe 0L
    // many appends -> compact -> identical serving results, 1 file/bucket
    (1 to 3).foreach(b => graft.similarity.AnnIndex.append(
      vecsDf(b * 10000L until (b * 10000L + 5L), dim = 8), "vec_id", "emb",
      path))
    val before = m2().orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val stats = graft.similarity.AnnIndex.compact(spark, path)
    stats("bands").filesAfter shouldBe 8
    stats("vectors").filesAfter shouldBe 8
    graft.lakehouse.Compaction.parquetFileCount(spark,
      path + "/band_sizes_v1") shouldBe 1
    m2().orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq shouldBe before
    withStaticPlan {
      val df = m2()
      assertCorpusSideUnshuffled(df, "/bands_v1")
      assertCorpusSideUnshuffled(df, "/vectors_v1")
    }
    // rebucket to 16: same results, plan pins green at the new layout
    graft.similarity.AnnIndex.rebucket(spark, path, newBuckets = 16)
    graft.similarity.AnnIndex.manifest(spark, path).numBuckets shouldBe 16
    withStaticPlan {
      val df = m2()
      assertCorpusSideUnshuffled(df, "/bands_v2")
      assertCorpusSideUnshuffled(df, "/vectors_v2")
      df.orderBy("query_id", "rank")
        .as[(Long, Long, Long, Double)].collect().toSeq shouldBe before
    }
  }

  test("indexedIds anti-join side is the bucketed codes/fingerprints scan") {
    import spark.implicits._
    val path = tmpDir("bidx-anti")
    val corpus = (0L until 100L).map(i => (i, i * 7L)).toDF("media_id", "dhash")
    graft.similarity.MediaDedupIndex.build(corpus, "media_id", "dhash", path)
    val batch = (50L until 150L).map(i => (i, i * 7L)).toDF("media_id", "dhash")
    withStaticPlan {
      val fresh = batch.join(
        graft.similarity.MediaDedupIndex.indexedIds(spark, path)
          .withColumnRenamed("id", "media_id"),
        Seq("media_id"), "left_anti")
      assertCorpusSideUnshuffled(fresh, "/codes")
      fresh.count() shouldBe 50L
    }
  }
}
