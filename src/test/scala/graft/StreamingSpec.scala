package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
                          mode: OutputMode)(feed: => Unit): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try { feed; q.processAllAvailable() } finally q.stop()
  }

  test("tumbling window counts with watermark evict on late data") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val df = in.toDF().toDF("ts", "user")
    val agg = StreamOps.tumblingCounts(df, "ts", "10 minutes", "1 hour", Seq("user"))
    runToMemory(agg, "tumbling", OutputMode.Append()) {
      in.addData((ts("2026-01-01 00:05:00"), "u1"), (ts("2026-01-01 00:20:00"), "u1"))
      // advance watermark far past the first window so it finalizes
      in.addData((ts("2026-01-01 03:00:00"), "u2"))
    }
    val out = spark.table("tumbling")
      .select($"user", $"n_events", $"window.start".cast("string"))
      .as[(String, Long, String)].collect().toSet
    out should contain(("u1", 2L, "2026-01-01 00:00:00"))
  }

  test("dropDuplicatesWithinWatermark dedups within the horizon") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val df = in.toDF().toDF("ts", "id")
    val dedup = StreamOps.dedupWithinWatermark(df, "ts", "1 hour", Seq("id"))
    runToMemory(dedup, "dedup", OutputMode.Append()) {
      in.addData((ts("2026-01-01 00:00:00"), "a"), (ts("2026-01-01 00:01:00"), "a"))
      in.addData((ts("2026-01-01 00:02:00"), "b"), (ts("2026-01-01 00:03:00"), "a"))
    }
    val out = spark.table("dedup").select("id").as[String].collect()
    out.count(_ == "a") shouldBe 1
    out.count(_ == "b") shouldBe 1
  }

  test("stream-stream interval join attributes clicks to impressions") {
    val imps = MemoryStream[(Timestamp, String)](spark)
    val clicks = MemoryStream[(Timestamp, String)](spark)
    val joined = StreamOps.streamStreamJoin(
      clicks.toDF().toDF("click_ts", "ad"),
      imps.toDF().toDF("imp_ts", "ad"),
      key = "ad", leftTs = "click_ts", rightTs = "imp_ts",
      watermarkDelay = "10 minutes", tolerance = "15 minutes")
    runToMemory(joined, "attributed", OutputMode.Append()) {
      imps.addData((ts("2026-01-01 00:00:00"), "ad1"),
        (ts("2026-01-01 00:00:00"), "ad2"))
      clicks.addData(
        (ts("2026-01-01 00:05:00"), "ad1"),  // within 15 min -> attributed
        (ts("2026-01-01 00:40:00"), "ad2"))  // 40 min later -> not attributed
      // push both watermarks so state finalizes
      imps.addData((ts("2026-01-01 03:00:00"), "late"))
      clicks.addData((ts("2026-01-01 03:00:00"), "late2"))
    }
    val out = spark.table("attributed")
      .select($"ad", $"click_ts".cast("string"))
      .as[(String, String)].collect().toSet
    out shouldBe Set(("ad1", "2026-01-01 00:05:00"))
  }

  test("session_window merges events within gap") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val df = in.toDF().toDF("ts", "user")
    val sess = StreamOps.sessionCounts(df, "ts", "10 minutes", "30 minutes", Seq("user"))
    runToMemory(sess, "sessions", OutputMode.Append()) {
      in.addData((ts("2026-01-01 00:00:00"), "u1"), (ts("2026-01-01 00:10:00"), "u1"))
      in.addData((ts("2026-01-01 05:00:00"), "u1")) // watermark push; first session closes
    }
    val out = spark.table("sessions").select("n_events").as[Long].collect()
    out should contain(2L)
  }

  test("flatMapGroupsWithState sessionize closes sessions on gap") {
    val in = MemoryStream[StreamOps.SessionEvent](spark)
    val sess = StreamOps.sessionize(in.toDS(), gapMicros = 60L * 1000000)
    runToMemory(sess.toDF(), "fmgs", OutputMode.Append()) {
      in.addData(
        StreamOps.SessionEvent("k", 0L),
        StreamOps.SessionEvent("k", 30L * 1000000),       // same session
        StreamOps.SessionEvent("k", 10L * 60 * 1000000),  // gap -> closes first
        StreamOps.SessionEvent("k", 20L * 60 * 1000000))  // gap -> closes second
    }
    val out = spark.table("fmgs").as[StreamOps.SessionOut].collect()
    out.map(s => (s.startMicros, s.endMicros, s.nEvents)).toSet should contain(
      (0L, 30L * 1000000, 2L))
  }

  test("ProgressLog listener sees batch counts and observed metrics") {
    val listener = new graft.streaming.ProgressLog
    spark.streams.addListener(listener)
    try {
      val in = MemoryStream[Int](spark)
      // streaming datasets need the named-observe form (Observation objects
      // are batch-only); metrics surface per micro-batch via the listener
      val df = in.toDF().observe("stream_obs", count(lit(1)).as("n"))
      runToMemory(df, "observed", OutputMode.Append()) {
        in.addData(1, 2, 3)
      }
      val withRows = listener.batches.filter(_.numInputRows > 0)
      withRows.map(_.numInputRows).sum shouldBe 3
      val metric = withRows.flatMap(_.observed.get("stream_obs")).headOption
      metric.map(_.getLong(0)) shouldBe Some(3L)
    } finally spark.streams.removeListener(listener)
  }

  test("transformWithState running stats accumulate across micro-batches") {
    // transformWithState needs multi-column-family state -> RocksDB provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[StreamOps.KeyedValue](spark)
    val stats = StreamOps.runningStats(in.toDS())
    val q = stats.toDF().writeStream.format("memory")
      .queryName("tws").outputMode("update").start()
    try {
      in.addData(StreamOps.KeyedValue("a", 1.0), StreamOps.KeyedValue("a", 3.0))
      q.processAllAvailable()
      in.addData(StreamOps.KeyedValue("a", 5.0), StreamOps.KeyedValue("b", 10.0))
      q.processAllAvailable()
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
    val rows = spark.table("tws").as[StreamOps.RunningStat].collect()
    // state persisted across batches: key a ends at n=3, total=9
    val aFinal = rows.filter(_.key == "a").maxBy(_.n)
    (aFinal.n, aFinal.total, aFinal.mean) shouldBe ((3L, 9.0, 3.0))
    rows.filter(_.key == "b").map(s => (s.n, s.total)).toSet shouldBe Set((1L, 10.0))
  }

  test("dedupIndexBatch: exactly-once matches, idempotent index append on replay") {
    val root = tmpDir("dix")
    val (index, matches) = (root + "/index", root + "/matches")
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("id", "text")
    graft.similarity.DedupIndex.build(base, "id", "text", index)
    val b = Seq((10L, "alpha beta gamma delta epsilon zeta eta")).toDF("id", "text")
    StreamOps.dedupIndexBatch(b, 0L, "id", "text", index, matches)
    def matchPairs() = spark.read.parquet(matches)
      .select("corpus_id", "batch_id").as[(Long, Long)].collect().toSet
    matchPairs() shouldBe Set((1L, 10L))
    // replay the SAME batch (checkpoint-recovery shape): doc 10 is already
    // indexed — output must be overwritten to the identical match set (no
    // self-match) and the index must not gain a duplicate fingerprint
    StreamOps.dedupIndexBatch(b, 0L, "id", "text", index, matches)
    matchPairs() shouldBe Set((1L, 10L))
    spark.read.parquet(index + "/fingerprints")
      .filter(col("id") === 10L).count() shouldBe 1L
  }

  test("mediaDedupIndexBatch: near-dup image in batch 2 matches batch 1's " +
       "index; replay is exactly-once and never double-indexes") {
    import graft.multimodal.{MediaCodec, Multimodal}
    val root = tmpDir("mdix")
    val (index, matches) = (root + "/index", root + "/matches")
    def codes(recs: (Long, Long, Boolean)*) = MediaCodec.dHash(
      recs.map { case (id, seed, pert) =>
        Multimodal.MediaRecord(id,
          Multimodal.encodePngPerturbed(24, 19, seed, perturb = pert),
          "image/png", "t")
      }.toDS()).toDF()
    // batch 1: two distinct images — no matches, both indexed
    StreamOps.mediaDedupIndexBatch(codes((1L, 7L, false), (2L, 8L, false)),
      0L, "media_id", "dhash", index, matches, maxHamming = 6)
    // explicit schema: a first batch with zero matches legitimately
    // leaves no schema-bearing parquet part under the matches path
    def matchPairs() = spark.read
      .schema("corpus_id LONG, batch_id LONG, hamming LONG, micro_batch_id LONG")
      .parquet(matches)
      .select("corpus_id", "batch_id").as[(Long, Long)].collect().toSet
    matchPairs() shouldBe Set.empty
    // batch 2: a near-dup of batch 1's seed-7 image (1-bit perturbation,
    // genuinely different bytes) plus a fresh image
    val b2 = codes((10L, 7L, true), (11L, 9L, false))
    StreamOps.mediaDedupIndexBatch(b2, 1L, "media_id", "dhash", index,
      matches, maxHamming = 6)
    matchPairs() shouldBe Set((1L, 10L))
    // replay batch 2 (checkpoint-recovery shape): id 10 is already
    // indexed — the match set must be reproduced exactly (no self-match,
    // no duplicates) and the index must not gain duplicate codes
    StreamOps.mediaDedupIndexBatch(b2, 1L, "media_id", "dhash", index,
      matches, maxHamming = 6)
    matchPairs() shouldBe Set((1L, 10L))
    spark.read.parquet(index + "/codes")
      .filter(col("id") === 10L).count() shouldBe 1L
    // ...and a batch-3 near-dup of a batch-2 image proves batch 2 joined
    // the corpus: matches point at BOTH the original and its batch-2 twin
    StreamOps.mediaDedupIndexBatch(codes((20L, 7L, false)), 2L,
      "media_id", "dhash", index, matches, maxHamming = 6)
    matchPairs() shouldBe Set((1L, 10L), (1L, 20L), (10L, 20L))
  }

  test("dedupIndexSink: each micro-batch joins the index for the next") {
    val root = tmpDir("dixs")
    val (index, matches, cp) = (root + "/index", root + "/matches", root + "/cp")
    graft.similarity.DedupIndex.build(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text"),
      "id", "text", index)
    val in = MemoryStream[(Long, String)](spark)
    val q = StreamOps.sink(in.toDF().toDF("id", "text"), cp)(
      StreamOps.dedupIndexBatch(_, _, "id", "text", index, matches))
    try {
      in.addData((20L, "alpha beta gamma delta epsilon zeta eta"))
      q.processAllAvailable()
      // batch 2's doc matches BOTH the base corpus and the batch-1 doc —
      // proof that batch 1 became part of the index
      in.addData((30L, "alpha beta gamma delta epsilon zeta theta"))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.read.parquet(matches)
      .select("corpus_id", "batch_id").as[(Long, Long)].collect().toSet
    pairs should contain allOf ((1L, 20L), (1L, 30L), (20L, 30L))
  }

  test("dedupIndexSink compactEveryNBatches: long-running sink keeps file " +
       "counts bounded (every Nth batch compacts in place)") {
    val root = tmpDir("dixc")
    val (index, matches, cp) = (root + "/index", root + "/matches", root + "/cp")
    graft.similarity.DedupIndex.build(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text"),
      "id", "text", index)
    val in = MemoryStream[(Long, String)](spark)
    val q = StreamOps.sink(in.toDF().toDF("id", "text"), cp)(
      StreamOps.dedupIndexBatch(_, _, "id", "text", index, matches,
        compactEveryNBatches = 3))
    try {
      (0 until 6).foreach { b =>
        in.addData((100L + b, s"alpha beta gamma delta epsilon zeta run$b"))
        q.processAllAvailable()
      }
    } finally q.stop()
    import graft.lakehouse.Compaction.parquetFileCount
    // 1 build + 6 appends would be 7 files/bucket uncompacted; the knob
    // compacted at batches 2 and 5 (each publishing a fresh _v<N> layout),
    // so the LIVE dirs hold at most compacted + 1 post-compaction append
    // per bucket — and band_sizes folded to one snapshot + 1 delta
    val v = graft.similarity.DedupIndex.manifest(spark, index).version
    v shouldBe 2
    parquetFileCount(spark, index + s"/bands_v$v") should be <= 2 * 8
    parquetFileCount(spark, index + s"/band_sizes_v$v") should be <= 2
    // grace: the previous version's dirs survive ONE maintenance cycle
    // (in-flight scans), older ones are reclaimed
    fsExists(index + s"/bands_v${v - 1}") shouldBe true
    fsExists(index + "/bands") shouldBe false
    // the index is intact: everything matched the base doc family
    graft.similarity.DedupIndex.load(spark, index)._1.count() shouldBe 7L
    spark.read.parquet(matches).count() should be >= 6L
  }

  private def fsExists(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  test("mediaDedupIndexBatch compactEveryNBatches: file counts stay " +
       "bounded on the media index too") {
    import graft.similarity.{AnnIndex, BucketedIndex, MediaDedupIndex}
    def vec(s: Long): Array[Double] =
      Array.tabulate(8)(j => if (j == (s % 8).toInt) (s + 10).toDouble else 1.0)
    // (index kind, build a one-row index, run sink batch b) per input: the
    // media sink and the ANN sink share the same compaction cadence
    val inputs: Seq[(String, BucketedIndex, String => Unit,
        (Int, String, String) => Unit)] = Seq(
      ("media", MediaDedupIndex,
        index => MediaDedupIndex.build(
          Seq((1L, 4096L)).toDF("media_id", "dhash"), "media_id", "dhash",
          index),
        (b, index, matches) => StreamOps.mediaDedupIndexBatch(
          Seq((100L + b, 4096L + b)).toDF("media_id", "dhash"), b.toLong,
          "media_id", "dhash", index, matches, maxHamming = 2,
          compactEveryNBatches = 3)),
      ("ann", AnnIndex,
        index => AnnIndex.build(Seq((1L, vec(7L))).toDF("vec_id", "emb"),
          "vec_id", "emb", index, nTables = 4, nBits = 4, dim = 8),
        (b, index, matches) => StreamOps.annIndexBatch(
          Seq((100L + b, vec(b.toLong))).toDF("vec_id", "emb"), b.toLong,
          "vec_id", "emb", index, matches, k = 2, nTables = 4, nBits = 4,
          dim = 8, compactEveryNBatches = 3)))
    inputs.foreach { case (kind, ix, build, sinkBatch) =>
      withClue(s"$kind: ") {
        val root = tmpDir(s"${kind}idxc")
        val (index, matches) = (root + "/index", root + "/matches")
        build(index)
        (0 until 6).foreach(b => sinkBatch(b, index, matches))
        import graft.lakehouse.Compaction.parquetFileCount
        val v = ix.manifest(spark, index).version
        v shouldBe 2
        parquetFileCount(spark, index + s"/bands_v$v") should be <= 2 * 8
        parquetFileCount(spark, index + s"/band_sizes_v$v") should be <= 2
        ix.indexedIds(spark, index).count() shouldBe 7L
      }
    }
  }

  test("annIndexSink: each micro-batch is served from the index, then " +
       "becomes corpus for the next; replay never double-indexes") {
    def vec(s: Long): Array[Double] =
      Array.tabulate(8)(j => if (j == (s % 8).toInt) (s + 10).toDouble else 1.0)
    val root = tmpDir("annx")
    val (index, matches, cp) = (root + "/index", root + "/matches", root + "/cp")
    graft.similarity.AnnIndex.build(
      Seq((1L, vec(7L))).toDF("vec_id", "emb"), "vec_id", "emb", index,
      nTables = 4, nBits = 4, dim = 8)
    val in = MemoryStream[(Long, Array[Double])](spark)
    val q = StreamOps.sink(in.toDF().toDF("vec_id", "emb"), cp)(
      StreamOps.annIndexBatch(_, _, "vec_id", "emb", index, matches, k = 2,
        nTables = 4, nBits = 4, dim = 8, maxBucket = Some(1000)))
    try {
      in.addData((20L, vec(7L))) // exact twin of the base corpus vector
      q.processAllAvailable()
      // batch 2 replays the same direction: its neighbors must include
      // BOTH the base vector and the batch-1 vector — proof batch 1
      // became part of the index
      in.addData((30L, vec(7L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(matches)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    got should contain allOf ((20L, 1L), (30L, 1L), (30L, 20L))
    // no self-matches ever, and replays never double-index
    got.exists(p => p._1 == p._2) shouldBe false
    StreamOps.annIndexBatch(Seq((20L, vec(7L))).toDF("vec_id", "emb"), 0L,
      "vec_id", "emb", index, matches, k = 2, nTables = 4, nBits = 4,
      dim = 8, maxBucket = Some(1000))
    graft.similarity.AnnIndex.indexedIds(spark, index)
      .filter(col("id") === 20L).count() shouldBe 1L
    // the FIRST batch on a fresh path CREATES the index (banding
    // constants from the sink parameters, pinned in the manifest), serves
    // zero matches against the empty corpus, and seeds it for batch 2
    val fresh = root + "/index2"
    StreamOps.annIndexBatch(Seq((40L, vec(3L))).toDF("vec_id", "emb"), 0L,
      "vec_id", "emb", fresh, root + "/matches2", k = 2,
      nTables = 4, nBits = 4, dim = 8)
    val m = graft.similarity.AnnIndex.manifest(spark, fresh)
    (m.nTables, m.nBits, m.dim) shouldBe ((4, 4, 8))
    StreamOps.annIndexBatch(Seq((41L, vec(3L))).toDF("vec_id", "emb"), 1L,
      "vec_id", "emb", fresh, root + "/matches2", k = 2,
      nTables = 4, nBits = 4, dim = 8)
    spark.read.parquet(root + "/matches2")
      .select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet shouldBe Set((41L, 40L))
  }

  test("cmsSink: batch counters merge counter-wise; replay never double-counts") {
    val root = tmpDir("cms")
    val (path, cp) = (root + "/cms", root + "/cp")
    val in = MemoryStream[String](spark)
    val q = StreamOps.sink(in.toDF().toDF("tok"), cp)(
      StreamOps.cmsBatch(_, _, "tok", path, depth = 4, width = 16))
    try {
      in.addData("a", "a", "b")
      q.processAllAvailable()
      in.addData("a", "c")
      q.processAllAvailable()
    } finally q.stop()
    def est(tok: String): Long =
      graft.functions.CountMinSketch.estimate(
          Seq(tok).toDF("tok"), "tok", StreamOps.cmsRead(spark, path),
          depth = 4, width = 16)
        .as[(String, Long)].collect().head._2
    // one-sided guarantee over the merged sketch: est >= true count
    est("a") should be >= 3L
    est("b") should be >= 1L
    // total counter mass = depth x total tokens (exactly, no overlap loss)
    StreamOps.cmsRead(spark, path).agg(sum("cnt")).as[Long].collect().head shouldBe 4L * 5L
    // replay batch 0 (same data, same id): partition overwritten, not added
    StreamOps.cmsBatch(Seq("a", "a", "b").toDF("tok"), 0L, "tok", path,
      depth = 4, width = 16)
    StreamOps.cmsRead(spark, path).agg(sum("cnt")).as[Long].collect().head shouldBe 4L * 5L
  }

  test("ivmSink: streamed deltas fold to the view; replay overwrites, never doubles") {
    withStaticOverwriteMode {
      import graft.transform.Ivm
      val root = tmpDir("ivm-stream")
      val (path, cp) = (root + "/state", root + "/cp")
      val in = MemoryStream[(String, Long)](spark)
      def toDelta(b: org.apache.spark.sql.DataFrame) =
        Ivm.viewDelta(Ivm.inserts(b.toDF("k", "v")), Seq("k"),
          Seq("sv" -> col("v")))
      val q = StreamOps.sink(in.toDF().toDF("k", "v"), cp) { (b, id) =>
        StreamOps.ivmBatch(toDelta(b), id, path)
      }
      try {
        in.addData(("a", 1L), ("b", 5L)); q.processAllAvailable()
        in.addData(("a", 2L)); q.processAllAvailable()
      } finally q.stop()
      val view = StreamOps.ivmView(spark, path, Seq("k"))
        .select($"k", $"n_rows", $"sv").as[(String, Long, Long)].collect().toSet
      view shouldBe Set(("a", 2L, 3L), ("b", 1L, 5L))
      // replay micro-batch 1 (same delta, same id): its partition is
      // REPLACED, so the folded view is unchanged — exactly-once semantics
      // on top of an at-least-once replay
      StreamOps.ivmBatch(toDelta(Seq(("a", 2L)).toDF("k", "v")), 1L, path)
      StreamOps.ivmView(spark, path, Seq("k"))
        .select($"k", $"n_rows", $"sv").as[(String, Long, Long)]
        .collect().toSet shouldBe view
      // the replay under a STATIC session replaced only its own partition
      spark.read.parquet(path).select("micro_batch_id").distinct()
        .as[Long].collect().sorted shouldBe Array(0L, 1L)
    }
  }

  test("driftSink: in-distribution batch scores near zero, skewed batch higher; replay idempotent") {
    val root = tmpDir("drift")
    val (basep, metrics, cp) = (root + "/base", root + "/metrics", root + "/cp")
    val baseToks = (1 to 50).flatMap(i => Seq("a", "b", "c", "d", "e"))
    StreamOps.unigramHistogram(baseToks.toDF("tok"), "tok", buckets = 16)
      .write.parquet(basep)
    val in = MemoryStream[String](spark)
    val q = StreamOps.sink(in.toDF().toDF("tok"), cp)(
      StreamOps.driftBatch(_, _, "tok", basep, metrics, buckets = 16))
    try {
      in.addData(Seq("a", "b", "c", "d", "e"): _*) // same distribution
      q.processAllAvailable()
      in.addData(Seq.fill(20)("zzz-novel"): _*)    // mass on an unseen bucket
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(metrics)
      .select("micro_batch_id", "n_tokens", "kl")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    rows.map(_._1) shouldBe Array(0L, 1L)
    val (inDist, skewed) = (rows(0)._3, rows(1)._3)
    skewed should be > inDist
    skewed should be > 0.5
    inDist should be < 0.1
    // replay batch 0: its partition is rewritten, not duplicated
    StreamOps.driftBatch(Seq("a", "b", "c", "d", "e").toDF("tok"), 0L, "tok",
      basep, metrics, buckets = 16)
    spark.read.parquet(metrics).count() shouldBe 2L
  }

  test("exactlyOnceParquet lands each micro-batch in its own partition") {
    val in = MemoryStream[(Long, String)](spark)
    val out = tmpDir("eop") + "/t"
    val cp = tmpDir("eop") + "/cp"
    val q = StreamOps.sink(in.toDF().toDF("id", "v"), cp)(
      StreamOps.overwritePartition(_, "batch_id", _, out))
    try {
      in.addData((1L, "a"))
      q.processAllAvailable()
      in.addData((2L, "b"), (3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(out)
    back.count() shouldBe 3
    back.select("batch_id").distinct().as[Long].collect().sorted shouldBe Array(0L, 1L)
  }

  /** Run `body` with the session's partition-overwrite mode explicitly
    * `static`, then assert the sinks never flipped it. */
  private def withStaticOverwriteMode(body: => Unit): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      body
      spark.conf.get(key) shouldBe "static"
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("exactlyOnceParquet: restart from checkpoint replays a crashed batch without dup/loss") {
    withStaticOverwriteMode {
      val in = MemoryStream[(Long, String)](spark)
      val out = tmpDir("eopr") + "/t"
      val cp = tmpDir("eopr") + "/cp"
      val df = in.toDF().toDF("id", "v")
      def start() = StreamOps.sink(df, cp)(
        StreamOps.overwritePartition(_, "batch_id", _, out))
      val q1 = start()
      try {
        in.addData((1L, "a")); q1.processAllAvailable()
        in.addData((2L, "b")); q1.processAllAvailable()
      } finally q1.stop()
      // simulate a crash BETWEEN the sink write and the checkpoint commit:
      // batch 1's data is already in the table, but its commit marker is
      // gone — the restarted query must re-run batch 1, and the per-
      // partition dynamic overwrite must land it on top of itself
      val commits = new java.io.File(cp + "/commits")
      val last = commits.listFiles().filter(_.getName.forall(_.isDigit))
        .maxBy(_.getName.toLong)
      last.delete() shouldBe true
      // ...and its Hadoop LocalFS .crc sidecar, or the replayed commit's
      // atomic re-create trips the concurrent-writer guard
      new java.io.File(commits, s".${last.getName}.crc").delete()
      val q2 = start()
      try {
        q2.processAllAvailable() // replays batch 1 from the retained source
        in.addData((3L, "c"))
        q2.processAllAvailable() // then continues with batch 2
      } finally q2.stop()
      // under a STATIC session the replayed batch still replaced only its
      // own partition (the sink's per-write dynamic overwrite option)
      val back = spark.read.parquet(out)
      back.select("id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
      back.select("batch_id").distinct().as[Long].collect().sorted shouldBe
        Array(0L, 1L, 2L)
    }
  }

  test("streaming near-dup: band collisions flag later near-identical docs") {
    val base = "the quick brown fox jumps over the lazy dog and then runs far away " * 3
    val nearDup = base.replace("lazy", "sleepy")
    val unrelated = "completely different content with no shared shingles at all " * 3
    val in = MemoryStream[(Long, String)](spark)
    val hits = StreamOps.bandHits(in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val collisions = StreamOps.nearDupCollisions(hits)
    runToMemory(collisions.toDF(), "neardup", OutputMode.Append()) {
      in.addData((1L, base))                       // batch 1: claims its bands
      in.addData((2L, nearDup), (3L, unrelated))   // batch 2: 2 collides, 3 doesn't
    }
    val out = spark.table("neardup").select($"docId", $"dupOf").distinct()
      .as[(Long, Long)].collect().toSet
    out should contain ((2L, 1L))   // near-dup flagged against the original
    out.map(_._1) should not contain 3L  // unrelated doc never collides
    out.map(_._1) should not contain 1L  // the original is never its own dup
  }
}
