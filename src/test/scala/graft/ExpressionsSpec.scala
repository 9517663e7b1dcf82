package graft

import org.apache.spark.sql.{functions => fn}
import org.apache.spark.sql.functions.{col, lit}

/** Each custom Catalyst expression must be semantically identical to the
  * (slower) built-in composition it replaced — that equivalence is what
  * keeps the DuckDB oracles valid. (Spark's `size`/`length` are qualified
  * as `fn.*` because ScalaTest Matchers inherits members with those names.)
  */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox",
    "a b",
    "",
    "one one one one one",
    "héllo wörld héllo wörld héllo",
    "中文 文本 测试 中文 文本",
  ).toDF("text")

  test("WordNgrams matches the HOF composition") {
    val tk = fn.split(col("text"), " ")
    val hof = fn.array_distinct(
      fn.when(fn.size(tk) >= 3,
        fn.transform(fn.sequence(lit(1), fn.size(tk) - lit(2)),
          i => fn.concat_ws(" ", fn.element_at(tk, i),
            fn.element_at(tk, i + lit(1)), fn.element_at(tk, i + lit(2)))))
        .otherwise(fn.array()))
    val rows = texts.select(
      functions.WordNgrams.wordNgrams(tk, 3).as("fast"), hof.as("ref")).collect()
    rows.foreach(r => r.getSeq[String](0) shouldBe r.getSeq[String](1))
  }

  test("CharNgrams matches the HOF composition (incl. multibyte)") {
    val rows = texts.selectExpr(
      "array_distinct(CASE WHEN length(text) >= 3 THEN transform(sequence(1, length(text)-2), i -> substring(text, i, 3)) ELSE array() END) AS ref",
      "text")
      .select(functions.CharNgrams.charNgrams(col("text"), 3).as("fast"), col("ref"))
      .collect()
    rows.foreach(r => r.getSeq[String](0) shouldBe r.getSeq[String](1))
  }

  test("MinHashSig matches the BigInt reference (Kirsch-Mitzenmacher slots)") {
    val sg = functions.WordNgrams.wordNgrams(fn.split(col("text"), " "), 3)
    val rows = texts.select(
      functions.MinHashSig.minhashSig(sg, 8).as("fast"), sg.as("sg")).collect()
    rows.foreach { r =>
      val expect = functions.MinHashSig.reference(r.getSeq[String](1), 8)
      r.getSeq[java.lang.Long](0).map(Option(_).map(_.longValue)) shouldBe expect
    }
  }

  test("MinHashBands renders '<band>|' + slots joined by '|', once per band") {
    val sg = functions.WordNgrams.wordNgrams(fn.split(col("text"), " "), 3)
    val rows = texts.select(
      functions.MinHashBands.minhashBands(sg, 4, 2).as("bands"), sg.as("sg")).collect()
    rows.foreach { r =>
      val slots = functions.MinHashSig.reference(r.getSeq[String](1), 8)
      val expect = (0 until 4).map { bi =>
        if (slots(bi * 2).isEmpty) null
        else s"$bi|${slots(bi * 2).get}|${slots(bi * 2 + 1).get}"
      }
      r.getSeq[String](0) shouldBe expect
    }
  }

  test("JaccardSim sorted merge-walk equals the hash-set path") {
    val grams = functions.CharNgrams.charNgrams(col("text"), 3)
    val df = texts.select(grams.as("g"))
    val arrs = df.collect().map(_.getSeq[String](0))
    for (x <- arrs; y <- arrs) {
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.unsafe.types.UTF8String
      def ad(s: Seq[String]) = new GenericArrayData(s.map(UTF8String.fromString).toArray)
      def adSorted(s: Seq[String]) =
        ad(s.sortWith((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0))
      val unsorted = functions.JaccardSim.compute(ad(x), ad(y))
      val sorted = functions.JaccardSim.computeSorted(adSorted(x), adSorted(y))
      sorted shouldBe unsorted
    }
  }

  test("SearchSortedDouble: below-first, on-boundary, between, above-last") {
    import graft.functions.SearchSortedDouble.searchSorted
    val bounds = Array(10.0, 20.0, 30.0)
    val df = Seq(5.0, 10.0, 15.0, 30.0, 99.0).toDF("v")
      .select(searchSorted(col("v"), bounds).as("b"))
    // bucket = #boundaries <= v: 5->0, 10->1 (inclusive), 15->1, 30->3, 99->3
    df.as[Int].collect() shouldBe Array(0, 1, 1, 3, 3)
    // integer input type works too (numeric, cast inside eval)
    Seq(25L).toDF("v").select(searchSorted(col("v"), bounds).as("b"))
      .as[Int].collect() shouldBe Array(2)
    // DECIMAL input: the child's Java type is Spark's Decimal (not a
    // primitive) — both the interpreted path and codegen must route
    // through toDouble rather than a Java cast
    Seq("5.00", "10.00", "25.50", "99.99").toDF("s")
      .select(searchSorted(col("s").cast("decimal(10,2)"), bounds).as("b"))
      .as[Int].collect() shouldBe Array(0, 1, 2, 3)
  }

  test("BloomMightContainLong: no false negatives, few false positives") {
    import graft.functions.BloomMightContainLong
    val keys = (1L to 2000L).map(i => s"key_$i").toDF("k")
    val bloom = BloomMightContainLong.buildOverHashes(keys, col("k"), 2000L)
    // every inserted key passes (bloom filters have NO false negatives)
    keys.filter(BloomMightContainLong.mightContain(fn.xxhash64(col("k")), bloom))
      .count() shouldBe 2000L
    // absent keys mostly fail: 1% fpp target, allow generous slack
    val absent = (1L to 2000L).map(i => s"other_$i").toDF("k")
      .filter(BloomMightContainLong.mightContain(fn.xxhash64(col("k")), bloom))
      .count()
    absent should be < 100L
  }

  test("StableHash buckets are in range, stable, and roughly uniform") {
    import graft.functions.StableHash
    val ids = spark.range(0, 2000).toDF("id")
    val b = ids.select(StableHash.bucket(col("id"), 10).as("b"))
      .groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    b.keySet.forall(k => k >= 0 && k < 10) shouldBe true
    // each of 10 buckets gets 2000/10 = 200 +- wide margin
    b.values.foreach(_ shouldBe 200L +- 80L)
    // stability: recomputing under a different partitioning is identical
    val again = ids.repartition(7).select(col("id"),
      StableHash.bucket(col("id"), 10).as("b2"))
    val one = ids.select(col("id"), StableHash.bucket(col("id"), 10).as("b1"))
    one.join(again, "id").filter(col("b1") =!= col("b2")).count() shouldBe 0L
  }

  test("DotProduct matches aggregate(zip_with(...)) exactly (FP order)") {
    val vecs = Seq(
      (Array(1.0, 2.0, 3.0), Array(0.5, -1.5, 2.0)),
      (Array(0.1, 0.2), Array(0.3, 0.4)),
    ).toDF("a", "b")
    val ref = fn.aggregate(fn.zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val rows = vecs.select(
      functions.DotProduct.dotProduct(col("a"), col("b")).as("fast"), ref.as("ref")).collect()
    rows.foreach { r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
  }

  test("DotProduct is null on length mismatch") {
    val df = Seq((Array(1.0, 2.0), Array(1.0))).toDF("a", "b")
    df.select(functions.DotProduct.dotProduct(col("a"), col("b")))
      .collect()(0).isNullAt(0) shouldBe true
  }

  test("JaccardSim matches intersect/union on distinct arrays") {
    val pairs = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a"), Seq("a")),
      (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq("x")),
    ).toDF("a", "b")
    val ref = fn.size(fn.array_intersect(col("a"), col("b"))).cast("double") /
      fn.size(fn.array_union(col("a"), col("b"))).cast("double")
    val rows = pairs.select(
      functions.JaccardSim.jaccardSim(col("a"), col("b")).as("fast"), ref.as("ref")).collect()
    rows.foreach(r => r.getDouble(0) shouldBe r.getDouble(1))
  }

  test("JaccardSim of two empty arrays is null (0/0)") {
    Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
      .select(functions.JaccardSim.jaccardSim(col("a"), col("b")))
      .collect()(0).isNullAt(0) shouldBe true
  }

  test("RollingHash: equal texts collide, prefix fold matches a manual fold") {
    def manual(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 131 + c) % 2147483647L)
    val rows = texts.select(col("text"),
      functions.RollingHash.rollingHash(col("text")).as("fp")).collect()
    rows.foreach(r => r.getLong(1) shouldBe manual(r.getString(0)))
  }

  test("RollingHashGrams: each window hash equals RollingHash of that slice") {
    val s = "abcdefghij"
    val k = 4
    val expected = (0 to s.length - k).map { i =>
      s.substring(i, i + k).codePoints().toArray
        .foldLeft(0L)((a, c) => (a * 131 + c) % 2147483647L)
    }
    val out = Seq(s).toDF("text")
      .select(functions.RollingHash.rollingHashGrams(col("text"), k))
      .collect()(0).getSeq[Long](0)
    out shouldBe expected
  }

  test("RollingHashGrams is empty for short strings") {
    Seq("ab").toDF("text")
      .select(functions.RollingHash.rollingHashGrams(col("text"), 4))
      .collect()(0).getSeq[Long](0) shouldBe Seq.empty
  }

  test("HeavyHitters sketch is exact under capacity and bounded over it") {
    import graft.functions.HeavyHitters
    // exact regime: distinct < capacity
    val small = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(5)("c")
    val smallDf = small.toDF("v")
    val exact = smallDf.select(HeavyHitters.heavyHitters(col("v")))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    exact.take(3) shouldBe Seq(("a", 50L), ("b", 30L), ("c", 5L))
    // over capacity: the true heavy hitter must survive with bounded error
    val skewed = Seq.fill(500)("hot") ++
      (1 to 300).map(i => s"cold$i")
    val hh = skewed.toDF("v").repartition(4)
      .select(HeavyHitters.heavyHitters(col("v")))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hot = hh.find(_._1 == "hot").get
    hot._2 should be >= 500L      // overestimate only
    (hot._2 - hot._3) should be <= 500L // count - maxError <= true count
  }

  test("QDigest: mass conserved, size capped, rank error within bound") {
    import graft.functions.QDigest
    // skewed multi-partition data: quadratic values repeat unevenly
    val vals: Seq[Long] = (1 to 20000).map(i => ((i % 140) * (i % 140)).toLong)
    val digest = vals.toDF("v").repartition(8)
      .agg(QDigest.sketch(col("v"))).collect()(0).getStruct(0)
    val n = digest.getLong(0)
    n shouldBe vals.size.toLong
    val nodes = digest.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    nodes.map(_._2).sum shouldBe n // compression moves counts, never drops
    nodes.size should be <= 3 * QDigest.K + QDigest.L
    val sorted = vals.sorted
    for (q <- Seq(0.01, 0.25, 0.5, 0.9, 0.99)) {
      val est = QDigest.quantile(nodes, n, q)
      val rank = sorted.count(_ <= est).toLong
      val target = math.max(1L, math.ceil(q * n).toLong)
      math.abs(rank - target) should be <= QDigest.rankBound(n)
    }
    // degenerate distribution: every quantile is the constant itself
    val const = Seq.fill(100)(7L).toDF("v")
      .agg(QDigest.sketch(col("v"))).collect()(0).getStruct(0)
    val cn = const.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    QDigest.quantile(cn, 100L, 0.5) shouldBe 7L
  }

  test("QDigest input contract: loud out-of-range failure, levels widen " +
       "the universe, affine maps negative/fractional domains") {
    import graft.functions.QDigest
    def chain(t: Throwable): String =
      Option(t).map(x => Option(x.getMessage).getOrElse("") + "|" +
        chain(x.getCause)).getOrElse("")
    // negative input fails the job with the contract message — no clamp
    val neg = intercept[Throwable] {
      Seq(-1L, 5L).toDF("v").agg(QDigest.sketch(col("v"))).collect()
    }
    chain(neg) should include("dyadic universe")
    // overflow past 2^24 fails the same way at default levels...
    val big = intercept[Throwable] {
      Seq(1L << 24, 5L).toDF("v").agg(QDigest.sketch(col("v"))).collect()
    }
    chain(big) should include("dyadic universe")
    // ...and is accepted when the sketch's universe is sized to the domain
    val wide = Seq(1L << 24, 5L, (1L << 30) - 1).toDF("v")
      .agg(QDigest.sketch(col("v"), levels = 30)).collect()(0).getStruct(0)
    wide.getLong(0) shouldBe 3L
    val wn = wide.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    // n=3 → t=0 → no compression → quantiles are exact leaves
    QDigest.quantile(wn, 3L, 0.5, levels = 30) shouldBe (1L << 24)
    // affine pre-map: monotone, so quantiles commute with the map
    val xs = Seq(-49.5, -1.25, 0.0, 3.75, 49.999)
    val mapped = xs.toDF("x")
      .select(QDigest.affine(col("x"), -50.0, 1000.0).as("v"))
    mapped.agg(org.apache.spark.sql.functions.min(col("v"))).head.getLong(0)
      .should(be >= 0L)
    val md = mapped.agg(QDigest.sketch(col("v"), levels = 17))
      .collect()(0).getStruct(0)
    val mn = md.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    QDigest.quantile(mn, 5L, 0.5, levels = 17) shouldBe 50000L // x = 0.0
    // invalid depth rejected at construction
    an[IllegalArgumentException] should be thrownBy QDigest.aggregator(63)
  }

  test("HyperplaneBits: fused sign-bits equal the per-plane when/dot " +
       "spelling, including null propagation") {
    import graft.functions.HyperplaneBits
    import graft.similarity.{CosineKnn, LshAnn}
    val planes = LshAnn.hyperplanes(dim = 8, nBits = 6, seed = 7L)
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(200)(Seq.fill(8)(rnd.nextDouble() * 2 - 1)) ++
      Seq(Seq.fill(8)(0.0)) // all-zero vec: every dot == 0.0 → all '1'
    val df = rows.toDF("v")
      .select(col("v").cast("array<double>").as("v"))
    val reference = fn.concat(planes.map { p =>
      fn.when(CosineKnn.dot(col("v"), fn.array(p.map(lit): _*)) >= 0, lit("1"))
        .otherwise(lit("0"))
    }: _*)
    val both = df.select(HyperplaneBits.bits(col("v"), planes).as("fused"),
      reference.as("ref")).collect()
    both.foreach(r => r.getString(0) shouldBe r.getString(1))
    // null vector → all zeros (the when() otherwise-branch), not null
    val nullRow = Seq(Tuple1(null: Seq[java.lang.Double])).toDF("v")
      .select(col("v").cast("array<double>").as("v"))
      .select(HyperplaneBits.bits(col("v"), planes).as("fused"))
      .head.getString(0)
    nullRow shouldBe "000000"
    // length-mismatched vector → null dots → all zeros, same as when()
    val shortRow = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
      .select(HyperplaneBits.bits(col("v").cast("array<double>"), planes))
      .head.getString(0)
    shortRow shouldBe "000000"
  }

  test("SimHash64: identical token sets collide, disjoint ones differ") {
    val df = Seq(
      ("x", Seq("spark", "scala", "engine")),
      ("y", Seq("spark", "scala", "engine")),
      ("z", Seq("entirely", "different", "words", "here")),
    ).toDF("id", "toks")
    val out = df.select(col("id"), functions.SimHash64.simhash64(col("toks")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out("x") shouldBe out("y")
    out("x") should not be out("z")
  }

  test("ModalCount matches the explode/groupBy composition on real docs") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val fast = docs.select(col("doc_id"),
      functions.ModalCount.modalCount(fn.split(col("text"), " ")).as("m"))
    val slow = docs
      .select(col("doc_id"), fn.explode(fn.split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(fn.count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(fn.max(col("c")).as("m"))
    fast.join(slow.withColumnRenamed("m", "m_ref"), "doc_id")
      .filter(col("m") =!= col("m_ref")).count() shouldBe 0L
  }

  test("ModalCount semantics: empty array, null elements, null array") {
    val rows = Seq(
      (1L, Seq("a", "b", "a", "a")),
      (2L, Seq.empty[String]),
      (3L, Seq(null, "x", null)),
      (4L, null)
    ).toDF("id", "arr")
      .select(col("id"), functions.ModalCount.modalCount(col("arr")).as("m"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    rows(1L) shouldBe 3L
    rows(2L) shouldBe 0L
    rows(3L) shouldBe 1L // nulls ignored, "x" counted once
    rows(4L) shouldBe -1L // null in, null out
  }

  test("EntropyTermSum matches the explode/DECIMAL-aggregate composition bit-for-bit") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val fast = docs.select(col("doc_id"),
      functions.EntropyTermSum.entropyTermSum(fn.split(col("text"), " ")).as("s"))
    val slow = docs
      .select(col("doc_id"), fn.explode(fn.split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(fn.count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(fn.sum((col("c").cast("double") * fn.log(col("c").cast("double")))
        .cast("decimal(27,12)")).as("s_ref"))
    fast.join(slow, "doc_id")
      .filter(col("s") =!= col("s_ref")).count() shouldBe 0L
  }

  test("all graft expressions compile under FORCED codegen (no fallback)") {
    import graft.functions._
    import graft.text.TextOps
    // CODEGEN_ONLY turns a broken doGenCode into a hard failure instead of
    // a silent interpreted fallback
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = texts.limit(1).select(
        TextOps.shingles(col("text"), 3).as("sh"),
        CharNgrams.charNgrams(col("text"), 3).as("cg"),
        MinHashSig.minhashSig(TextOps.shingles(col("text"), 3), 8).as("sig"),
        MinHashBands.minhashBands(TextOps.shingles(col("text"), 3), 4, 2).as("bands"),
        SimHash64.simhash64(TextOps.tokens(col("text"))).as("sh64"),
        RollingHash.rollingHash(col("text")).as("rh"),
        RollingHash.rollingHashGrams(col("text"), 4).as("rhg"),
        Winnow.winnow(RollingHash.rollingHashGrams(col("text"), 4), 3).as("wn"),
        SearchSortedDouble.searchSorted(fn.length(col("text")), Array(1.0, 5.0, 100.0)).as("bucket"),
        SearchSortedDouble.searchSorted(
          fn.length(col("text")).cast("decimal(10,2)"), Array(1.0, 5.0, 100.0)).as("dbucket"),
        BloomMightContainLong.mightContain(fn.xxhash64(col("text")),
          BloomMightContainLong.buildOverHashes(texts, col("text"), 10L)).as("bloom"),
        DotProduct.dotProduct(fn.array(lit(1.0), lit(2.0)), fn.array(lit(3.0), lit(4.0))).as("dp"),
        ModalCount.modalCount(TextOps.tokens(col("text"))).as("modal"),
        EntropyTermSum.entropyTermSum(TextOps.tokens(col("text"))).as("ets"),
        JaroWinkler.jaroWinklerSim(col("text"), fn.reverse(col("text"))).as("jw"),
        DamerauLevenshtein.damerauLevenshtein(col("text"),
          fn.reverse(col("text"))).as("dl"),
        MultiPatternCount.totalMatches(col("text"), Seq("the", "he", "fox"))
          .as("mpc"),
        DtwDistance.dtwDistance(fn.array(lit(1L), lit(2L)),
          fn.array(lit(2L), lit(2L))).as("dtw"))
        .collect()
      out.length shouldBe 1
      out(0).getAs[Double]("dp") shouldBe 11.0
      out(0).getAs[Int]("bucket") shouldBe 2 // 43 chars: past 1.0 and 5.0
      out(0).getAs[Int]("dbucket") shouldBe 2 // decimal path, same bucket
      out(0).getAs[Boolean]("bloom") shouldBe true // inserted key: no false negative
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("Winnow selects distinct sliding-window minima (boundary conventions)") {
    import graft.functions.Winnow
    import org.apache.spark.sql.functions.{array, lit}
    def winnowOf(xs: Seq[Long], w: Int): Seq[Long] = {
      val df = Seq(1).toDF("one").select(
        Winnow.winnow(array(xs.map(lit): _*), w).as("wn"))
      df.collect()(0).getSeq[Long](0)
    }
    // windows of 3 over [5,3,8,1,9,2]: mins 3,1,1,1 -> distinct [3,1]
    winnowOf(Seq(5L, 3L, 8L, 1L, 9L, 2L), 3) shouldBe Seq(3L, 1L)
    // shorter than the window: single overall min
    winnowOf(Seq(7L, 4L), 3) shouldBe Seq(4L)
    // guarantee: any run of w consecutive grams shares a fingerprint
    val xs = Seq.tabulate(50)(i => ((i * 2654435761L) % 1000))
    val fps = winnowOf(xs, 4).toSet
    xs.sliding(4).foreach(wnd => fps.intersect(wnd.toSet) should not be empty)
  }

  test("JaroWinkler matches the published textbook values (DuckDB parity set)") {
    import graft.functions.JaroWinkler
    def jj(a: String, b: String): (Double, Double) = {
      val r = Seq((a, b)).toDF("a", "b").select(
        JaroWinkler.jaroSim(col("a"), col("b")).as("j"),
        JaroWinkler.jaroWinklerSim(col("a"), col("b")).as("jw")).collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    // Winkler's canonical example; values verified against DuckDB's native
    // jaro_similarity / jaro_winkler_similarity to the exact double
    jj("MARTHA", "MARHTA") shouldBe ((1.0 + 1.0 + 5.0 / 6.0) / 3.0,
      0.9611111111111111)
    jj("DIXON", "DICKSONX")._2 shouldBe 0.8133333333333332 +- 1e-15
    // empty-side convention: 0, not 1 (DuckDB semantics)
    jj("", "") shouldBe ((0.0, 0.0))
    jj("abc", "") shouldBe ((0.0, 0.0))
    // no Winkler boost at or below jaro 0.7
    jj("abcdxxxxxx", "abcdyyyyyy") shouldBe ((0.6, 0.6))
  }

  test("DamerauLevenshtein is the TRUE (unrestricted) variant") {
    import graft.functions.DamerauLevenshtein
    def d(a: String, b: String): Long =
      Seq((a, b)).toDF("a", "b").select(
        DamerauLevenshtein.damerauLevenshtein(col("a"), col("b")).as("d"))
        .collect()(0).getLong(0)
    d("CA", "ABC") shouldBe 2L // OSA would say 3 — the discriminating case
    d("MARTHA", "MARHTA") shouldBe 1L // adjacent transposition = 1 edit
    d("kitten", "sitting") shouldBe 3L
    d("", "abc") shouldBe 3L
    d("abc", "") shouldBe 3L
    d("same", "same") shouldBe 0L
  }

  test("MultiPatternCount counts overlapping cross-pattern hits in one pass") {
    import graft.functions.MultiPatternCount
    def run(text: String, pats: Seq[String]): (Long, Long) = {
      val r = Seq(text).toDF("t").select(
        MultiPatternCount.totalMatches(col("t"), pats).as("a"),
        MultiPatternCount.distinctPatterns(col("t"), pats).as("b"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // "the" contains "he": both count at the same end position
    run("the theme", Seq("the", "he")) shouldBe ((4L, 2L))
    // self-overlapping pattern: "aa" occurs 3 times in "aaaa"
    run("aaaa", Seq("aa")) shouldBe ((3L, 1L))
    run("no hits here", Seq("spark", "query")) shouldBe ((0L, 0L))
    // automaton equivalence vs per-pattern regex count on real docs
    val pats = graft.queries.EvalQueries.blocklistPatterns
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val composed = pats.map(p =>
      (fn.length(col("text")) - fn.length(fn.replace(col("text"), fn.lit(p))))
        .cast("long") / fn.lit(p.length.toLong)).reduce(_ + _).cast("long")
    docs.select(
        MultiPatternCount.totalMatches(col("text"), pats).as("fast"),
        composed.as("ref"))
      .filter(col("fast") =!= col("ref")).count() shouldBe 0L
  }

  test("DtwDistance: warping, lockstep bound, and null semantics") {
    import graft.functions.DtwDistance
    def d(a: Seq[Long], b: Seq[Long]): Option[Long] = {
      val r = Seq((a, b)).toDF("a", "b")
        .select(DtwDistance.dtwDistance(col("a"), col("b")).as("d"))
        .collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    // a phase shift L1 can't absorb: [0,0,5,0] vs [0,5,0,0]
    d(Seq(0L, 0L, 5L, 0L), Seq(0L, 5L, 0L, 0L)) shouldBe Some(0L)
    // identical series
    d(Seq(3L, 1L, 4L), Seq(3L, 1L, 4L)) shouldBe Some(0L)
    // single-element vs series: sum of |5 - b_j|
    d(Seq(5L), Seq(1L, 5L, 9L)) shouldBe Some(8L)
    // known small DP: [1,3,2] vs [2,2]: cost 1+1+0 via alignment
    d(Seq(1L, 3L, 2L), Seq(2L, 2L)) shouldBe Some(2L)
    // empty side -> null
    d(Seq(1L), Seq.empty[Long]) shouldBe None
    // dtw <= lockstep L1 on equal-length series, across real profiles
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.EvalQueries.q320_dtw_nations(spark, dir)
      .collect()
    rows.length shouldBe 300
    rows.foreach { r =>
      r.getLong(r.fieldIndex("dtw")) should be <= r.getLong(r.fieldIndex("l1"))
    }
  }

  test("DecodableMedia: real codec probe per declared type, null semantics") {
    import graft.functions.DecodableMedia
    import graft.multimodal.Multimodal
    val png = Multimodal.encodePng(6, 4, 1L)
    val wav = Multimodal.encodeWav(8000,
      Array.tabulate(40)(t => Multimodal.plantedSample(2L, t, perturb = false)))
    val junk = "not media at all".getBytes("UTF-8")
    val rows = Seq(
      (1L, png, "image/png"), (2L, wav, "audio/wav"),
      (3L, junk, "image/png"), (4L, junk, "audio/wav"),
      (5L, png, "video/mp4"), // unverifiable declared type -> false
      (6L, wav, "image/png"), // wrong declared type -> false
      (7L, null.asInstanceOf[Array[Byte]], "image/png"))
      .toDF("id", "payload", "mt")
      .select(col("id"),
        DecodableMedia.decodableMedia(col("payload"), col("mt")).as("ok"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getBoolean(1)))).toMap
    rows(1L) shouldBe Some(true)
    rows(2L) shouldBe Some(true)
    rows(3L) shouldBe Some(false)
    rows(4L) shouldBe Some(false)
    rows(5L) shouldBe Some(false)
    rows(6L) shouldBe Some(false)
    rows(7L) shouldBe None // null payload propagates null
  }

  test("array<string> expressions reject other input types by name") {
    import graft.functions._
    val x = col("x")
    val ints = spark.range(1).select(lit(1).as("x"))
    for ((name, c) <- Seq(
        "simhash64" -> SimHash64.simhash64(x),
        "entropy_term_sum" -> EntropyTermSum.entropyTermSum(x),
        "modal_count" -> ModalCount.modalCount(x),
        "word_ngrams" -> WordNgrams.wordNgrams(x, 3),
        "minhash_sig" -> MinHashSig.minhashSig(x, 8),
        "minhash_bands" -> MinHashBands.minhashBands(x, 4, 2)))
      withClue(s"$name: ") {
        intercept[org.apache.spark.sql.AnalysisException](ints.select(c))
          .getMessage should include(s"$name needs array<string>, got IntegerType")
      }
  }
}
