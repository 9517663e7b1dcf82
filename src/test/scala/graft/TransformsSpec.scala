package graft

import java.sql.Timestamp

import graft.transform._

class TransformsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("Dedup.latestByKey and latestByKeyAgg agree") {
    val df = Seq(
      (1L, ts("2026-01-01 00:00:00"), "old"),
      (1L, ts("2026-01-02 00:00:00"), "new"),
      (2L, ts("2026-01-01 00:00:00"), "only"),
    ).toDF("id", "updated", "v")
    val win = Dedup.latestByKey(df, Seq("id"),
      Seq($"updated".desc, $"v".desc)).orderBy("id")
    val agg = Dedup.latestByKeyAgg(df, Seq("id"), "updated", "v").orderBy("id")
    win.collect() shouldBe agg.collect()
    win.select("v").as[String].collect().toSeq shouldBe Seq("new", "only")
  }

  test("Dedup.byContentHash keeps min-id representative with dup_count") {
    import org.apache.spark.sql.functions._
    val df = Seq((3L, "same"), (1L, "same"), (2L, "other")).toDF("id", "text")
    val out = Dedup.byContentHash(df, md5($"text"), "id")
      .select("id", "dup_count").as[(Long, Long)].collect().toSet
    out shouldBe Set((1L, 2L), (2L, 1L))
  }

  test("Scd2.fromHistory builds contiguous validity windows") {
    val df = Seq(
      (1L, ts("2026-01-01 00:00:00"), "v1"),
      (1L, ts("2026-02-01 00:00:00"), "v2"),
    ).toDF("id", "updated", "v")
    val hist = Scd2.fromHistory(df, Seq("id"), "updated")
      .orderBy("valid_from_us")
      .select("v", "valid_to_us", "is_current")
      .as[(String, Long, Boolean)].collect()
    hist(0)._1 shouldBe "v1"
    hist(0)._3 shouldBe false
    hist(0)._2 should be < Scd2.HighDateMicros
    hist(1) shouldBe (("v2", Scd2.HighDateMicros, true))
  }

  test("Scd2.cdcLatestState applies c/u/d semantics") {
    val cdc = Seq(
      (1L, "c", ts("2026-01-01 00:00:00"), "a"),
      (1L, "u", ts("2026-01-02 00:00:00"), "a2"),
      (2L, "c", ts("2026-01-01 00:00:00"), "b"),
      (2L, "d", ts("2026-01-03 00:00:00"), "b"),
    ).toDF("id", "op", "ts", "v")
    val state = Scd2.cdcLatestState(cdc, Seq("id"), "ts", "op")
      .select("id", "v").as[(Long, String)].collect().toSet
    state shouldBe Set((1L, "a2"))
  }

  test("Sessionize.byGap splits on gap and numbers sessions") {
    val df = Seq(
      ("u1", ts("2026-01-01 00:00:00"), 1L),
      ("u1", ts("2026-01-01 00:10:00"), 2L), // same session (10 min gap)
      ("u1", ts("2026-01-01 02:00:00"), 3L), // new session
      ("u2", ts("2026-01-01 00:00:00"), 4L),
    ).toDF("user", "ts", "seq")
    val gap = 30L * 60 * 1000000 // 30 min in micros
    val out = Sessionize.byGap(df, "user", "ts", gap, "seq")
      .select("user", "seq", "session_seq").as[(String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    out(("u1", 1L)) shouldBe 1L
    out(("u1", 2L)) shouldBe 1L
    out(("u1", 3L)) shouldBe 2L
    out(("u2", 4L)) shouldBe 1L
  }

  test("duplicateClusters: transitive chains collapse, singletons stay") {
    import spark.implicits._
    // 1-2, 2-3, 3-4 form one component even though 1~4 was never a pair;
    // 10-11 a second; 20 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val out = Dedup.duplicateClusters(pairs, nodes, "doc_id")
      .as[(Long, Long)].collect().toMap
    out shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
  }

  test("duplicateClusters releases every persist it takes (no cache residue)") {
    import spark.implicits._
    import org.apache.spark.sql.graft.bridge
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val nodes = (1L to 12L).toDF("doc_id")
    // two consecutive calls: the r2 leak kept the final labels cached per
    // call forever ("Asked to cache already cached data" WARN on reuse)
    Dedup.duplicateClusters(pairs, nodes, "doc_id").collect()
    Dedup.duplicateClusters(pairs, nodes, "doc_id").collect()
    bridge.cacheIsEmpty(spark) shouldBe true
  }

  test("PrefixSum.groupedRunningSum matches the window cumsum (multi-partition)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // enough rows to span many range partitions; skewed group sizes
    val df = (1L to 5000L).map { i =>
      (if (i % 7 == 0) "b" else "a", i, (i % 13) + 1)
    }.toDF("g", "ord", "v").repartition(16)
    def keyed(rows: Array[(String, Long, Long)]) =
      rows.map { case (g, o, c) => (g, o) -> c }.toMap
    val got = keyed(PrefixSum.groupedRunningSum(df, Seq("g"), "ord", "v", "cum")
      .select("g", "ord", "cum").as[(String, Long, Long)].collect())
    val w = Window.partitionBy(col("g")).orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = keyed(df.withColumn("cum", sum(col("v")).over(w))
      .select("g", "ord", "cum").as[(String, Long, Long)].collect())
    got.size shouldBe 5000
    got shouldBe want
  }

  test("PrefixSum keeps NULL group keys (null-safe join back to offsets)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // rows with a NULL group key must come out with their own running sum,
    // exactly like Window.partitionBy treats NULL as its own partition —
    // a plain equi-join back to the offsets frame silently drops them
    val df = (1L to 400L).map { i =>
      (if (i % 3 == 0) null else s"g${i % 2}", i, i % 5 + 1)
    }.toDF("g", "ord", "v").repartition(8)
    val got = PrefixSum.groupedRunningSum(df, Seq("g"), "ord", "v", "cum")
      .select("g", "ord", "cum").as[(Option[String], Long, Long)].collect()
      .map { case (g, o, c) => (g, o) -> c }.toMap
    val w = Window.partitionBy(col("g")).orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = df.withColumn("cum", sum(col("v")).over(w))
      .select("g", "ord", "cum").as[(Option[String], Long, Long)].collect()
      .map { case (g, o, c) => (g, o) -> c }.toMap
    got.size shouldBe 400
    got shouldBe want
  }

  test("PrefixSum is partition-count independent (3 vs 17 shuffle partitions)") {
    import spark.implicits._
    val df = (1L to 999L).map(i => (s"g${i % 3}", i, i % 7)).toDF("g", "ord", "v")
    def run(parts: String): Map[(String, Long), Long] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try PrefixSum.groupedRunningSum(df, Seq("g"), "ord", "v", "cum")
        .select("g", "ord", "cum").as[(String, Long, Long)].collect()
        .map { case (g, o, c) => (g, o) -> c }.toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    run("3") shouldBe run("17")
  }

  test("duplicateClustersBigStar matches label propagation on varied graphs") {
    import spark.implicits._
    def run(pairs: Seq[(Long, Long)], nodes: Seq[Long], labelIters: Int = 10): Unit = {
      val p = pairs.toDF("id_a", "id_b")
      val n = nodes.toDF("doc_id")
      val a = Dedup.duplicateClusters(p, n, "doc_id", maxIters = labelIters)
        .as[(Long, Long)].collect().toMap
      val b = Dedup.duplicateClustersBigStar(p, n, "doc_id")
        .as[(Long, Long)].collect().toMap
      b shouldBe a
    }
    // chains + a second component + singletons
    run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)), 1L to 12L)
    // whale: hub-and-spoke star, the topology label propagation funnels
    run((2L to 60L).map(i => (1L, i)), 1L to 65L)
    // seeded random graph (multi-edges, both orientations, self-ish noise)
    val rnd = new scala.util.Random(42)
    run(Seq.fill(150)((rnd.nextInt(100).toLong + 1, rnd.nextInt(100).toLong + 1))
      .filter(e => e._1 != e._2), 1L to 100L)
    // a long path: diameter rounds for label-prop, O(log^2) for star ops
    run((1L to 24L).sliding(2).map(s => (s(0), s(1))).toSeq, 1L to 24L,
      labelIters = 30)
  }

  test("duplicateClustersBigStar: empty pairs, no cache residue") {
    import spark.implicits._
    import org.apache.spark.sql.graft.bridge
    spark.catalog.clearCache()
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.duplicateClustersBigStar(none, (1L to 5L).toDF("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap
    out shouldBe (1L to 5L).map(i => i -> i).toMap
    bridge.cacheIsEmpty(spark) shouldBe true
  }

  test("duplicateClustersBigStar convergence probe is one aggregate per round") {
    import spark.implicits._
    import org.apache.spark.sql.graft.bridge
    // path graph: known topology, a handful of star rounds. The probe used
    // to run TWO shuffling `except` anti-joins per round; the edge-set
    // signature is one tiny aggregate. Pin the total job budget so the
    // probe can't silently regress (jobs per round: 1 localCheckpoint +
    // 1 signature aggregate, plus the final label join).
    val pairs = (1L to 12L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val nodes = (1L to 14L).toDF("doc_id")
    val jobs = bridge.countJobs(spark) {
      Dedup.duplicateClustersBigStar(pairs, nodes, "doc_id").collect()
    }
    // AQE submits one job per query stage, so a star round (distinct +
    // groupBy + join, checkpointed) is ~10 jobs; measured 52 total on this
    // graph. The old except-probe shape adds two anti-joins (~6 more
    // jobs) per round — ~80+ total — and blows this bound.
    jobs should be <= 60
  }

  test("duplicateClusters fails loudly when maxIters is too small") {
    import spark.implicits._
    // a path graph of length 6 needs more than 1 round to converge
    val pairs = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val nodes = (1L to 7L).toDF("doc_id")
    an[IllegalStateException] should be thrownBy
      Dedup.duplicateClusters(pairs, nodes, "doc_id", maxIters = 1)
  }

  test("RefIntegrity.orphans finds unmatched children via anti-join") {
    val child = Seq((1L, 10L), (2L, 20L), (3L, 99L)).toDF("id", "parent_id")
    val parent = Seq((10L, "a"), (20L, "b")).toDF("pid", "name")
    RefIntegrity.orphans(child, parent, "parent_id", "pid")
      .select("id").as[Long].collect().toSeq shouldBe Seq(3L)
  }

  test("Merge.upsertByKey replaces matched keys and inserts new ones") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "price")
    val updates = Seq((2L, "b2", 99.0), (3L, "c", 30.0)).toDF("id", "v", "price")
    val out = Merge.upsertByKey(target, updates, Seq("id"), "id", "v")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    out shouldBe Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0))
  }

  test("Merge.applyCdc deletes keys whose latest op is d") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val cdc = Seq((2L, "d", 5L, "x"), (3L, "c", 6L, "c3")).toDF("id", "op", "seq", "v")
    val out = Merge.applyCdc(target, cdc.select($"id", $"v", $"op", $"seq"),
        Seq("id"), "seq", "op", "op")
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    out shouldBe Seq((1L, "a"), (3L, "c3"))
  }

  test("Merge.mergeSql emits valid MERGE INTO text") {
    val sql = Merge.mergeSql("t.orders", "s.updates", Seq("id"), Seq("price"))
    sql should include("MERGE INTO t.orders")
    sql should include("WHEN MATCHED THEN UPDATE SET t.price = s.price")
    sql should include("WHEN NOT MATCHED THEN INSERT")
  }

  test("Salt.saltedAgg equals the direct aggregation") {
    import org.apache.spark.sql.functions._
    val df = (1L to 1000L).map(i => (s"k${i % 3}", i)).toDF("k", "v")
    val direct = df.groupBy("k").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .orderBy("k").as[(String, Long, Long)].collect().toSeq
    val salted = Salt.saltedAgg(df, Seq("k"), 8,
        Seq(sum($"v").as("ps"), count(lit(1)).as("pn")),
        Seq(sum($"ps").as("s"), sum($"pn").as("n")))
      .orderBy("k").as[(String, Long, Long)].collect().toSeq
    salted shouldBe direct
  }

  test("AsOfJoin.leftAsOf picks the newest right row at-or-before each left ts") {
    val trades = Seq(
      ("A", ts("2026-01-01 10:00:05"), 1L),
      ("A", ts("2026-01-01 10:00:00"), 2L), // exactly at a quote ts -> takes it
      ("A", ts("2026-01-01 09:00:00"), 3L), // before any quote -> null
      ("B", ts("2026-01-01 12:00:00"), 4L),
    ).toDF("sym", "ts", "trade_id")
    val quotes = Seq(
      ("A", ts("2026-01-01 10:00:00"), 100.0, 1L),
      ("A", ts("2026-01-01 10:00:03"), 101.0, 2L),
      ("B", ts("2026-01-01 11:00:00"), 50.0, 3L),
    ).toDF("sym", "ts", "px", "qid")
    val out = AsOfJoin.leftAsOf(trades, quotes, "sym", "ts", "ts", "qid")
      .select("trade_id", "asof_px")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    out(1L) shouldBe Some(101.0) // newest quote <= 10:00:05
    out(2L) shouldBe Some(100.0) // equal-ts quote counts
    out(3L) shouldBe None        // no prior quote
    out(4L) shouldBe Some(50.0)
  }

  test("RangeJoin.pairsWithinGap finds exactly the close pairs, once each") {
    val df = Seq(
      ("u", ts("2026-01-01 00:00:00"), 1L),
      ("u", ts("2026-01-01 00:00:30"), 2L),  // 30s from 1 -> pair
      ("u", ts("2026-01-01 00:01:05"), 3L),  // 35s from 2, 65s from 1
      ("v", ts("2026-01-01 00:00:10"), 4L),  // other key
    ).toDF("k", "ts", "id")
    val pairs = RangeJoin.pairsWithinGap(df, "k", "ts", "id", 60L * 1000000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((1L, 2L), (2L, 3L))
  }

  test("RangeJoin.pointInInterval lands points in their intervals") {
    val points = Seq(("u", ts("2026-01-01 00:05:00"), 1L),
      ("u", ts("2026-01-01 02:00:00"), 2L)).toDF("k", "pt", "pid")
    val ivs = Seq(("u", ts("2026-01-01 00:00:00"), ts("2026-01-01 00:30:00"), 10L))
      .toDF("k", "lo", "hi", "ivid")
    val out = RangeJoin.pointInInterval(points, ivs, "k", "pt", "lo", "hi",
        bucketMicros = 600L * 1000000)
      .select("pid", "ivid").as[(Long, Long)].collect().toSeq
    out shouldBe Seq((1L, 10L))
  }

  test("Multimodal.decodeImage really decodes PNG bytes (javax.imageio) " +
       "and drops undecodable payloads") {
    import graft.multimodal.{MediaCodec, Multimodal}
    // genuine PNG payloads with planted dimensions, plus one text payload
    val recs = Seq(
      Multimodal.MediaRecord(1L, Multimodal.encodePng(17, 5, 1L),
        "image/png", "synth"),
      Multimodal.MediaRecord(2L, Multimodal.encodePng(3, 9, 2L),
        "image/png", "synth"),
      Multimodal.MediaRecord(3L, "not an image".getBytes("UTF-8"),
        "image/png", "synth")).toDS()
    val feats = MediaCodec.decodeImage(recs).collect()
      .map(f => f.media_id -> f).toMap
    feats.keySet shouldBe Set(1L, 2L) // text payload dropped, not crashed
    feats(1L).width shouldBe 17
    feats(1L).height shouldBe 5
    feats(1L).channels shouldBe 3
    feats(2L).width shouldBe 3
    feats(2L).height shouldBe 9
    feats(1L).sha.length shouldBe 32
    // decode is deterministic: same planted image → same digest
    val again = MediaCodec.decodeImage(recs.repartition(4)).collect()
      .map(f => f.media_id -> f.sha).toMap
    again(1L) shouldBe feats(1L).sha
  }

  test("Multimodal.encodeWav/decodeAudio round-trip the planted PCM " +
       "arithmetic and drop undecodable or non-16-bit-mono payloads") {
    import graft.multimodal.{MediaCodec, Multimodal}
    val n = 147
    val samples = Array.tabulate(n)(t =>
      Multimodal.plantedSample(9L, t, perturb = false))
    // the planted features computed directly (what the decode must equal)
    val absSum = samples.map(s => math.abs(s.toLong)).sum
    val sqSum = samples.map(s => s.toLong * s).sum
    val zc = (1 until n).count(i => samples(i).toLong * samples(i - 1) < 0)
    // stereo payload through the SAME JDK codec — a real container the
    // decoder must REJECT (non-mono), not misparse
    val stereoFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val stereoRaw = new Array[Byte](4 * 50)
    val stereo = {
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(stereoRaw), stereoFmt, 50L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val wav = Multimodal.encodeWav(11000, samples)
    val recs = Seq(
      Multimodal.MediaRecord(1L, wav, "audio/wav", "synth"),
      Multimodal.MediaRecord(2L, "not audio".getBytes("UTF-8"), "audio/wav", "synth"),
      Multimodal.MediaRecord(3L, stereo, "audio/wav", "synth"),
      // truncated container: header promises more bytes than present —
      // must not crash the partition (drop or short-read, never throw)
      Multimodal.MediaRecord(4L, wav.take(wav.length / 2), "audio/wav", "synth")
    ).toDS()
    val feats = MediaCodec.decodeAudio(recs).collect()
      .map(f => f.media_id -> f).toMap
    // text + stereo dropped; the truncated one may drop or short-read
    feats.keySet - 4L shouldBe Set(1L)
    feats(1L).sample_rate shouldBe 11000
    feats(1L).n_samples shouldBe n.toLong
    feats(1L).abs_sum shouldBe absSum
    feats(1L).sq_sum shouldBe sqSum
    feats(1L).zero_crossings shouldBe zc.toLong
    feats.get(4L).foreach(_.n_samples should be < n.toLong)
    // decode is deterministic on any partitioning
    val again = MediaCodec.decodeAudio(recs.repartition(4)).collect()
      .map(f => f.media_id -> f.sq_sum).toMap
    again(1L) shouldBe sqSum
    // the near-dup perturbation (+1 on even t) changes bytes but stays
    // in int16 range by construction of the planted range
    val pert = Array.tabulate(n)(t =>
      Multimodal.plantedSample(9L, t, perturb = true))
    pert.zipWithIndex.foreach { case (v, t) =>
      v.toLong shouldBe samples(t).toLong + (if (t % 2 == 0) 1L else 0L)
    }
  }

  test("Multimodal.resizeDims pins the long side and preserves aspect within rounding") {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.functions._
    val df = Seq((1920, 1080), (480, 640), (64, 64), (10000, 3)).toDF("w", "h")
    val (ow, oh) = Multimodal.resizeDims(col("w"), col("h"), 224)
    val out = df.select(col("w"), col("h"), ow.as("ow"), oh.as("oh"))
      .as[(Int, Int, Int, Int)].collect().toSeq
    out.foreach { case (w, h, rw, rh) =>
      math.max(rw, rh) shouldBe 224
      rw should be >= 1
      rh should be >= 1
      // aspect preserved to within the half-pixel round (unless the short
      // side rounds below a pixel, where the 1-px clamp wins)
      val scale = 224.0 / math.max(w, h)
      val ideal = math.min(w, h) * scale
      if (ideal < 1.0) math.min(rw, rh) shouldBe 1
      else math.abs(math.min(rw, rh) - ideal) should be <= 0.5001
    }
  }

  test("Multimodal.imageEmbedding: centered-luma vector replays the " +
       "planted raster arithmetic; near-dups stay near cosine 1") {
    import graft.multimodal.{MediaCodec, Multimodal}
    val recs = Seq(
      Multimodal.MediaRecord(0L, Multimodal.encodePngPerturbed(21, 18, 5L, perturb = false), "image/png", "t"),
      Multimodal.MediaRecord(1L, Multimodal.encodePngPerturbed(21, 18, 5L, perturb = true), "image/png", "t"),
      Multimodal.MediaRecord(2L, Multimodal.encodePngPerturbed(21, 18, 6L, perturb = false), "image/png", "t"),
      Multimodal.MediaRecord(3L, "not an image".getBytes("UTF-8"), "image/png", "t")).toDS()
    val em = MediaCodec.imageEmbedding(recs).collect()
      .map(e => e.media_id -> e.embedding).toMap
    em.keySet shouldBe Set(0L, 1L, 2L) // undecodable dropped
    em.values.foreach { v =>
      v.length shouldBe 16
      v.sum shouldBe 0.0 // exact-integer mean centering
      v.foreach(x => x shouldBe math.rint(x)) // every value an exact integer
    }
    // replay the pristine embedding from the planted pixel function
    val (w, h, seed) = (21, 18, 5L)
    val g = Array.tabulate(16) { k =>
      val x = (k % 4) * w / 4; val y = (k / 4) * h / 4
      val u = (seed * 2654435761L + x * 31L + y * 131L) % 16777213L
      val v = ((u * u) % 16777213L).toInt
      ((((v >> 16) & 0xff) * 299 + ((v >> 8) & 0xff) * 587 + (v & 0xff) * 114) / 1000).toLong
    }
    val sum = g.sum
    em(0L).toSeq shouldBe g.map(gi => (16L * gi - sum).toDouble).toSeq
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    cos(em(0L), em(1L)) should be > 0.999 // planted near-dup
    cos(em(0L), em(2L)) should be < 0.95 // distinct seed decorrelates
  }

  test("Multimodal.audioEmbedding: 33-window energy vector replays the " +
       "planted PCM arithmetic; short/undecodable clips drop") {
    import graft.multimodal.{MediaCodec, Multimodal}
    val n = 99
    def clip(seed: Long, perturb: Boolean) = Multimodal.encodeWav(8000,
      Array.tabulate(n)(t => Multimodal.plantedSample(seed, t, perturb)))
    val recs = Seq(
      Multimodal.MediaRecord(0L, clip(3L, perturb = false), "audio/wav", "t"),
      Multimodal.MediaRecord(1L, clip(3L, perturb = true), "audio/wav", "t"),
      Multimodal.MediaRecord(2L, Multimodal.encodeWav(8000,
        Array.tabulate(20)(t => Multimodal.plantedSample(4L, t, perturb = false))),
        "audio/wav", "t"),
      Multimodal.MediaRecord(3L, "junk".getBytes("UTF-8"), "audio/wav", "t")).toDS()
    val em = MediaCodec.audioEmbedding(recs).collect()
      .map(e => e.media_id -> e.embedding).toMap
    em.keySet shouldBe Set(0L, 1L) // <33 samples and undecodable dropped
    em(0L).length shouldBe 33
    em(0L).sum shouldBe 0.0 // exact-integer mean centering
    // replay centered window energies from the planted sample function
    val e = new Array[Long](33)
    for (t <- 0 until n) {
      val s = Multimodal.plantedSample(3L, t, perturb = false).toLong
      e((t.toLong * 33 / n).toInt) += s * s
    }
    val sum = e.sum
    em(0L).toSeq shouldBe e.map(x => (33L * x - sum).toDouble).toSeq
    // near-dup clip stays near cosine 1
    val d = em(0L).zip(em(1L)).map(p => p._1 * p._2).sum
    val c = d / (math.sqrt(em(0L).map(x => x * x).sum) *
      math.sqrt(em(1L).map(x => x * x).sum))
    c should be > 0.999
  }

  test("Ivm fold equals recompute under deletes; zero groups vanish") {
    import org.apache.spark.sql.functions._
    val state = tmpDir("ivm-spec")
    def d(rows: Seq[(String, Long)],
        sign: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      Ivm.viewDelta(sign(rows.toDF("k", "v")), Seq("k"),
        Seq("sv" -> col("v")))
    // inserts: a:{1,2}, b:{5}; retract both a rows -> group a must vanish
    Ivm.append(d(Seq(("a", 1L), ("b", 5L)), Ivm.inserts), state)
    Ivm.append(d(Seq(("a", 2L)), Ivm.inserts), state)
    Ivm.append(d(Seq(("a", 1L), ("a", 2L)), Ivm.retracts), state)
    val out = Ivm.current(spark, state, Seq("k"))
      .select($"k", $"n_rows", $"sv".cast("long"))
      .as[(String, Long, Long)].collect().toSet
    out shouldBe Set(("b", 1L, 5L))
    // merge is order-insensitive: folding the stored deltas reversed
    // (read back, re-merged) gives the same view
    val reread = Ivm.merge(spark.read.parquet(state).orderBy($"n_rows"),
      Seq("k")).select($"k", $"n_rows", $"sv".cast("long"))
      .as[(String, Long, Long)].collect().toSet
    reread shouldBe out
  }

  test("Ivm.foldGroup: a replayed source path is skipped instead of " +
       "double-counted, even when its contents changed") {
    val root = tmpDir("ivm-idem")
    val state = s"$root/state"
    def batch(name: String, rows: Seq[(String, Long)]) = {
      rows.toDF("k", "v").write.mode("overwrite").parquet(s"$root/$name")
      spark.read.parquet(s"$root/$name")
    }
    def fold(name: String, rows: Seq[(String, Long)]) =
      Ivm.foldGroup(batch(name, rows), s"$root/$name", state, Seq("k"), Seq("v"))
        .select($"k", $"n_rows", $"v").as[(String, Long, Long)].collect().toSet
    fold("batch-1", Seq(("a", 1L), ("b", 5L)))
    fold("batch-2", Seq(("a", 2L)))
    // replay batch-1 (same source path) — must skip, never re-fold
    fold("batch-1", Seq(("a", 1L), ("b", 5L))) shouldBe
      Set(("a", 2L, 3L), ("b", 1L, 5L))
    // a changed replay of batch-2 is skipped too: the view folds each
    // source path once, as the min/topk folds do
    fold("batch-2", Seq(("a", 7L))) shouldBe Set(("a", 2L, 3L), ("b", 1L, 5L))
  }

  test("Ivm.zJoin multiplies multiplicities; joinDelta counts cross terms once") {
    import org.apache.spark.sql.functions._
    val r1 = Seq((1L, "x")).toDF("k", "rv")
    val dR = Ivm.inserts(Seq((2L, "y")).toDF("k", "rv"))
    val s1 = Seq((1L, 10L)).toDF("k", "sv")
    val dS = Ivm.inserts(Seq((1L, 20L), (2L, 30L)).toDF("k", "sv"))
    // d(R⋈S) after both-sides growth: r1⋈dS(1,20) + dR⋈s_new(2,30)
    val d = Ivm.joinDelta(r1, dR, s1, dS, Seq("k"))
      .select($"k", $"sv", $"_m").as[(Long, Long, Long)].collect().toSet
    d shouldBe Set((1L, 20L, 1L), (2L, 30L, 1L))
    // retraction through a join cancels exactly the rows it created
    val retr = Ivm.joinDelta(r1.union(dR.drop("_m")), Ivm.inserts(r1.limit(0)),
      s1.union(dS.drop("_m")), Ivm.retracts(Seq((2L, 30L)).toDF("k", "sv")),
      Seq("k"))
      .select($"k", $"sv", $"_m").as[(Long, Long, Long)].collect().toSet
    retr shouldBe Set((2L, 30L, -1L))
  }

  test("Ivm.minRetract repairs only min-hit groups; fully-deleted groups vanish") {
    import org.apache.spark.sql.functions._
    val base0 = Seq(("a", 1L), ("a", 5L), ("b", 3L), ("c", 9L)).toDF("k", "v")
    val empty = base0.limit(0).groupBy("k")
      .agg(min($"v").as("min_v"), count(lit(1)).cast("long").as("n_rows"))
    val s = Ivm.minInsert(empty, base0, Seq("k"), "v")
    // delete a's minimum (repair), all of c (vanish); b untouched
    val dels = Seq(("a", 1L), ("c", 9L)).toDF("k", "v")
    val post = Seq(("a", 5L), ("b", 3L)).toDF("k", "v")
    val out = Ivm.minRetract(s, dels, post, Seq("k"), "v")
      .select($"k", $"n_rows", $"min_v", $"recomputed")
      .as[(String, Long, Long, Boolean)].collect().toSet
    out shouldBe Set(("a", 1L, 5L, true), ("b", 1L, 3L, false))
  }

  test("Multimodal.sampleFrames slices strided fixed-size frames") {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "abcdefghij")).toDF("media_id", "payload") // 10 bytes
    val frames = Multimodal.sampleFrames(
        df.withColumn("payload", encode($"payload", "UTF-8")), "payload",
        frameBytes = 3, stride = 2)
      .select($"frame_idx", decode($"frame", "UTF-8").as("frame"))
      .as[(Int, String)].collect().toSeq
    // frames of 3 bytes: idx 0 -> abc, idx 2 -> ghi (stride skips idx 1)
    frames shouldBe Seq((0, "abc"), (2, "ghi"))
  }

  test("Multimodal.encodeGif/readGifFrames round-trip the planted frame " +
       "rasters losslessly (multi-frame, single-frame, truncated, non-GIF)") {
    import graft.multimodal.{MediaCodec, Multimodal}
    def gray(x: Int, y: Int, f: Int): Int =
      ((x * 31 + y * 131 + f * 8191 + 7) % 256 + 256) % 256
    val gif = Multimodal.encodeGif(14, 11, 3, gray)
    // encode is deterministic byte-for-byte
    Multimodal.encodeGif(14, 11, 3, gray).toSeq shouldBe gif.toSeq
    val frames = MediaCodec.readGifFrames(gif).get
    frames.size shouldBe 3
    frames.zipWithIndex.foreach { case (img, f) =>
      img.getWidth shouldBe 14
      img.getHeight shouldBe 11
      for (y <- 0 until 11; x <- 0 until 14) {
        val v = img.getRGB(x, y)
        val g = gray(x, y, f)
        // lossless gray palette: every channel is exactly the planted gray
        withClue(s"f=$f x=$x y=$y: ") {
          ((v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff) shouldBe ((g, g, g))
        }
      }
    }
    // single-frame clip decodes to exactly one frame
    MediaCodec.readGifFrames(Multimodal.encodeGif(9, 8, 1, gray))
      .get.size shouldBe 1
    // truncated mid-stream and non-GIF payloads drop whole, never throw
    MediaCodec.readGifFrames(gif.take(gif.length / 2)) shouldBe None
    MediaCodec.readGifFrames("not a gif".getBytes("UTF-8")) shouldBe None
    MediaCodec.readGifFrames(Array.emptyByteArray) shouldBe None
    // the Dataset-level frame hasher: one row per decoded frame, bad
    // payloads dropped, deterministic on any partitioning
    val recs = Seq(
      Multimodal.MediaRecord(1L, gif, "image/gif", "synth"),
      Multimodal.MediaRecord(2L, gif.take(gif.length / 2), "image/gif", "synth"),
      Multimodal.MediaRecord(3L, Multimodal.encodeGif(9, 8, 1, gray),
        "image/gif", "synth")).toDS()
    val hashes = MediaCodec.frameHashes(recs).collect()
      .map(h => (h.media_id, h.frame_idx) -> h.dhash).toMap
    hashes.keySet shouldBe Set((1L, 0), (1L, 1), (1L, 2), (3L, 0))
    val again = MediaCodec.frameHashes(recs.repartition(4)).collect()
      .map(h => (h.media_id, h.frame_idx) -> h.dhash).toMap
    again shouldBe hashes
  }

  test("frameSequencePairs: one-frame-perturbed twin is a near-dup clip, " +
       "distinct seeds are not, and a fully-scrambled clip fails 4/5") {
    import graft.multimodal.{MediaCodec, Multimodal}
    import graft.similarity.BandedHamming
    def clip(id: Long, seed: Long, nf: Int,
             perturbFrames: Set[Int]): Multimodal.MediaRecord =
      Multimodal.MediaRecord(id, Multimodal.encodeGif(16, 13, nf, (x, y, f) => {
        val u = (seed * 2654435761L + x * 31L + y * 131L + f * 8191L) % 16777213L
        val g = (((u * u) % 16777213L) % 256L).toInt
        if (perturbFrames(f) && (x + y) % 2 == 0) g ^ 1 else g
      }), "image/gif", "synth")
    val recs = Seq(
      clip(0L, 7L, 5, Set.empty),  // original
      clip(1L, 7L, 5, Set(2)),     // one frame retouched -> near-dup
      clip(2L, 8L, 5, Set.empty),  // different seed -> distinct
      // same seed but >1/5 of frames heavily scrambled (different seed
      // entirely on 3 of 5 frames) -> fails the 4/5-close threshold
      Multimodal.MediaRecord(3L, Multimodal.encodeGif(16, 13, 5, (x, y, f) => {
        val s = if (f >= 2) 99L else 7L
        val u = (s * 2654435761L + x * 31L + y * 131L + f * 8191L) % 16777213L
        (((u * u) % 16777213L) % 256L).toInt
      }), "image/gif", "synth")).toDS()
    val frames = MediaCodec.frameHashes(recs).toDF()
    val pairs = BandedHamming.frameSequencePairs(frames, "media_id",
      "frame_idx", "dhash", nBands = 4, bandBits = 16, maxHamming = 6,
      minCloseNum = 4, minCloseDen = 5, maxBucket = Some(100))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // the retouched twin is found with >= 4 of 5 frames close
    pairs.keySet should contain((0L, 1L))
    val (nClose, nTotal) = pairs((0L, 1L))
    nTotal shouldBe 5L
    nClose should be >= 4L
    // distinct seed never pairs with the original family
    pairs.keySet.exists { case (a, b) => a == 2L || b == 2L } shouldBe false
    // the 3/5-scrambled clip shares 2 close frames only -> filtered out
    pairs.keySet.exists { case (a, b) => a == 3L || b == 3L } shouldBe false
  }

  test("frameSequencePairsShifted: a head-trimmed twin is recovered at " +
       "shift -1 (exact-index alignment misses it); cross-seed rejected; " +
       "maxShift=0 reduces exactly to frameSequencePairs") {
    import graft.multimodal.{MediaCodec, Multimodal}
    import graft.similarity.BandedHamming
    def gray(seed: Long)(x: Int, y: Int, o: Int): Int = {
      val u = (seed * 2654435761L + x * 31L + y * 131L + o * 8191L) % 16777213L
      (((u * u) % 16777213L) % 256L).toInt
    }
    val recs = Seq(
      // full 6-frame clip
      Multimodal.MediaRecord(0L,
        Multimodal.encodeGif(16, 13, 6, gray(7L)), "image/gif", "synth"),
      // head-trimmed twin: stored frame f replays original frame f+1
      Multimodal.MediaRecord(1L,
        Multimodal.encodeGif(16, 13, 5, (x, y, f) => gray(7L)(x, y, f + 1)),
        "image/gif", "synth"),
      // different seed
      Multimodal.MediaRecord(2L,
        Multimodal.encodeGif(16, 13, 6, gray(8L)), "image/gif", "synth")
    ).toDS()
    val frames = MediaCodec.frameHashes(recs).toDF()
    def shifted(s: Int) = BandedHamming.frameSequencePairsShifted(frames,
      "media_id", "frame_idx", "dhash", nBands = 4, bandBits = 16,
      maxHamming = 6, minCloseNum = 4, minCloseDen = 5, maxShift = s,
      maxBucket = Some(100))
    val atS2 = shifted(2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // trimmed twin: aligned at b.f = a.f - 1, all 5 overlapping frames
    // identical; n_total = greatest(6, 5) - |−1| = 5
    atS2.keySet shouldBe Set((0L, 1L))
    atS2((0L, 1L)) shouldBe ((-1L, 5L, 5L))
    // exact-index alignment misses the trim entirely...
    val exact = BandedHamming.frameSequencePairs(frames, "media_id",
      "frame_idx", "dhash", nBands = 4, bandBits = 16, maxHamming = 6,
      minCloseNum = 4, minCloseDen = 5, maxBucket = Some(100))
    exact.count() shouldBe 0L
    // ...and maxShift=0 agrees with it on a fixture where pairs DO exist
    // at exact alignment (the previous test's family, reconstructed)
    def clip(id: Long, seed: Long, perturb: Set[Int]) =
      Multimodal.MediaRecord(id, Multimodal.encodeGif(16, 13, 5, (x, y, f) => {
        val g = gray(seed)(x, y, f)
        if (perturb(f) && (x + y) % 2 == 0) g ^ 1 else g
      }), "image/gif", "synth")
    val frames0 = MediaCodec.frameHashes(
      Seq(clip(0L, 7L, Set.empty), clip(1L, 7L, Set(2)),
        clip(2L, 8L, Set.empty)).toDS()).toDF()
    val zero = BandedHamming.frameSequencePairsShifted(frames0, "media_id",
      "frame_idx", "dhash", nBands = 4, bandBits = 16, maxHamming = 6,
      minCloseNum = 4, minCloseDen = 5, maxShift = 0, maxBucket = Some(100))
      .select("id_a", "id_b", "n_close", "n_total")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val base = BandedHamming.frameSequencePairs(frames0, "media_id",
      "frame_idx", "dhash", nBands = 4, bandBits = 16, maxHamming = 6,
      minCloseNum = 4, minCloseDen = 5, maxBucket = Some(100))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    zero shouldBe base
    zero should not be empty
  }

  test("audioWindowCodes + frameSequencePairsShifted: a head-trimmed WAV " +
       "twin is recovered at shift -1; cross-seed rejected; maxShift=0 " +
       "agrees with frameSequencePairs on the untrimmed family") {
    import graft.multimodal.{MediaCodec, Multimodal}
    import graft.similarity.BandedHamming
    val W = 66
    def wav(id: Long, seed: Long, nW: Int, trimWindows: Int,
            perturbWindow: Int = -1): Multimodal.MediaRecord = {
      val samples = Array.tabulate((nW - trimWindows) * W) { t =>
        val o = t + trimWindows * W
        Multimodal.plantedSample(seed, o, perturb = o / W == perturbWindow)
      }
      Multimodal.MediaRecord(id, Multimodal.encodeWav(8000, samples),
        "audio/wav", "synth")
    }
    val recs = Seq(
      wav(0L, 7L, nW = 6, trimWindows = 0),
      // head-trimmed twin, one surviving window perturbed
      wav(1L, 7L, nW = 6, trimWindows = 1, perturbWindow = 2),
      wav(2L, 8L, nW = 6, trimWindows = 0) // different seed
    ).toDS()
    val codes = MediaCodec.audioWindowCodes(recs, windowSamples = W).toDF()
    // fixed-size windowing: stored window counts are 6 / 5 / 6
    codes.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(0L -> 6L, 1L -> 5L, 2L -> 6L)
    val atS2 = BandedHamming.frameSequencePairsShifted(codes, "media_id",
        "window_idx", "code", nBands = 4, bandBits = 8, maxHamming = 4,
        minCloseNum = 4, minCloseDen = 5, maxShift = 2,
        maxBucket = Some(100))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // trimmed twin: aligned at b.w = a.w - 1, n_total = max(6,5) - 1 = 5,
    // all 5 overlapping windows close (the +1 perturbation moves each
    // sub-block energy by O(sum|s|), far below the inter-block spread)
    atS2.keySet shouldBe Set((0L, 1L))
    val (shift, nClose, nTotal) = atS2((0L, 1L))
    shift shouldBe -1L
    nTotal shouldBe 5L
    nClose should be >= 4L
    // exact-index alignment misses the trim entirely
    BandedHamming.frameSequencePairs(codes, "media_id", "window_idx",
      "code", nBands = 4, bandBits = 8, maxHamming = 4, minCloseNum = 4,
      minCloseDen = 5, maxBucket = Some(100)).count() shouldBe 0L
    // ...and maxShift=0 agrees with it on an untrimmed family
    val codes0 = MediaCodec.audioWindowCodes(Seq(
      wav(0L, 7L, 6, 0), wav(1L, 7L, 6, 0, perturbWindow = 2),
      wav(2L, 8L, 6, 0)).toDS(), windowSamples = W).toDF()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "n_close", "n_total")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val zeroA = rows(BandedHamming.frameSequencePairsShifted(codes0,
      "media_id", "window_idx", "code", nBands = 4, bandBits = 8,
      maxHamming = 4, minCloseNum = 4, minCloseDen = 5, maxShift = 0,
      maxBucket = Some(100))
      .select("id_a", "id_b", "n_close", "n_total"))
    val baseA = rows(BandedHamming.frameSequencePairs(codes0, "media_id",
      "window_idx", "code", nBands = 4, bandBits = 8, maxHamming = 4,
      minCloseNum = 4, minCloseDen = 5, maxBucket = Some(100)))
    zeroA shouldBe baseA
    zeroA should not be empty
  }
}
