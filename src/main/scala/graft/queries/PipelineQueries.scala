package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.text.{LangId, TextOps}
import graft.transform.Dedup
import graft.similarity.{CosineKnn, LshAnn, MinHashLsh}
import graft.functions.SimHash64
import graft.multimodal.Multimodal

/** Beyond-reference LLM-data-pipeline operators (BASELINE.json north star):
  * dedup family, text analysis, similarity search, multimodal plumbing.
  */
object PipelineQueries {

  /** Exact content dedup via md5 grouping — keeps min doc_id per hash.
    * One shuffle on the 128-bit hash; map-side combinable. */
  def q23_dedup_exact(spark: SparkSession, dir: String): DataFrame =
    // project to the output columns BEFORE the agg: the min_by payload
    // struct is what ships through the shuffle (and what the generated
    // aggregate copies per update) — don't carry text/lang/source for a
    // 3-column result
    Dedup.byContentHash(
        Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"),
          md5(col("text")).as("__content_md5")),
        col("__content_md5"), "doc_id")
      .select(col("doc_id"), col("n_chars"), col("dup_count"))
      .orderBy(col("doc_id"))

  /** Per-document text statistics + quality score, single scan. */
  def q24_text_stats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      size(TextOps.distinctTokens(col("text"))).cast("long").as("n_distinct_tokens"),
      TextOps.avgTokenLen(col("text")).as("avg_token_len"),
      TextOps.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Stopword-profile language ID with per-profile hit scores. */
  def q25_lang_id(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
      (col("doc_id") +:
        LangId.scores(col("text")) :+
        LangId.predict(col("text")).as("pred_lang")): _*)
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens + BPE-ish estimate. */
  def q26_token_count(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("ws_tokens"),
      TextOps.bpeTokenEstimate(col("text")).as("bpe_est"),
      length(col("text")).as("n_chars_seen"))
      .orderBy(col("doc_id"))

  /** MinHash+LSH near-duplicate pairs, Jaccard-verified on 3-word shingles.
    * 16 bands x 4 rows (64 perms): S-curve inflection ~0.5 = the verify
    * threshold; maxBucket caps degenerate boilerplate buckets. */
  def q27_minhash_dedup(spark: SparkSession, dir: String): DataFrame =
    MinHashLsh.nearDuplicatePairs(Tables.documents(spark, dir),
        "doc_id", "text", shingleN = 3, bands = 16, rowsPerBand = 4,
        threshold = 0.5, maxBucket = Some(100))
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash fingerprints via the custom Catalyst expression, emitted in
    * the two bit-permutation-invariant projections the oracle CAN pin
    * per-doc (raw u64s differ between engines only by a fixed bit
    * permutation — see [[q84_simhash_quality]]): popcount of each doc's
    * fingerprint, and Hamming distance to the deterministic partner doc
    * `doc_id + 37`. Every vote bit of every fingerprint participates in
    * the output, so a SimHash regression hash-mismatches — this closed the
    * last rows-only gap (r5 verdict task 4). */
  def q28_simhash(spark: SparkSession, dir: String): DataFrame = {
    val sx = Tables.documents(spark, dir)
      .select(col("doc_id"),
        SimHash64.simhash64(TextOps.tokens(col("text"))).as("sh"))
    val partner = sx.select((col("doc_id") - 37).as("doc_id"),
      col("sh").as("sh_b"))
    sx.join(partner, Seq("doc_id"), "left")
      .select(col("doc_id"),
        bit_count(col("sh")).cast("long").as("sh_bits"),
        bit_count(col("sh").bitwiseXOR(col("sh_b"))).cast("long").as("ham_fwd"))
      .orderBy(col("doc_id"))
  }

  /** Character n-gram Jaccard similarity over banded candidates (same-lang,
    * length within +-8) — a band-join + verify shape.
    *
    * The length tolerance is folded into the equi-join key: the candidate
    * stage joins ONLY (id, lang, n_chars) triples — the left side explodes
    * into 17 (lang, length) keys of a few bytes each, so the shuffle stays
    * tiny and the n-gram arrays never fan out. Each qualifying pair matches
    * exactly one key (dlt = nc_a - nc_b), so no dedup is needed; the n-gram
    * sets are joined back by id only for surviving candidates, and the
    * O(|g3|) intersect runs once per candidate pair. */
  def q29_ngram_jaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val slim = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    val a = slim.select(col("doc_id").as("id_a"), col("lang").as("lang_a"), col("n_chars").as("nc_a"))
      .withColumn("nc_key", explode(array((-8 to 8).map(dlt => col("nc_a") + lit(dlt)): _*)))
    val b = slim.select(col("doc_id").as("id_b"), col("lang").as("lang_b"), col("n_chars").as("nc_b"))
    val cand = a.join(b, col("lang_a") === col("lang_b") && col("nc_key") === col("nc_b") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // grams sorted once per doc so the per-pair intersect is an
    // allocation-free merge walk (jaccard count is order-independent, so
    // the oracle is unaffected)
    // fan + pin: the char-3-gram kernel feeds both verify sides and
    // otherwise ran twice in 1-task scan stages (guide §2.5/§1.2)
    val grams = Tables.fan(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        array_sort(graft.functions.CharNgrams.charNgrams(col("text"), 3)).as("g3"))
      .localCheckpoint(true)
    val ga = grams.select(col("doc_id").as("id_a"), col("g3").as("ga"))
    val gb = grams.select(col("doc_id").as("id_b"), col("g3").as("gb"))
    cand.join(ga, "id_a").join(gb, "id_b")
      .withColumn("jaccard",
        graft.functions.JaccardSim.jaccardSimSorted(col("ga"), col("gb")))
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Brute-force cosine top-k ANN baseline (deterministic float64 fold). */
  def q30_ann_cosine(spark: SparkSession, dir: String): DataFrame =
    CosineKnn.topK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        queryPredicate = col("id") < 8, k = 5)
      .orderBy(col("query_id"), col("rank"))

  /** LSH-bucketed ANN — the scale path. Fully oracle-verified: the bucket
    * bit-string is recomputed in DuckDB from the same inlined hyperplane
    * literals (see [[graft.similarity.LshAnn.sqlBitString]]). */
  def q31_ann_lsh(spark: SparkSession, dir: String): DataFrame =
    LshAnn.topKBucketed(Tables.embeddings(spark, dir), "vec_id", "embedding",
        queryPredicate = col("id") < 50, k = 3, nBits = 8)
      .orderBy(col("query_id"), col("rank"))

  /** IVF ANN probed search, emitted as its oracle-checkable recall curve
    * (closed the last rows-only gap — r5 verdict task 4): one row per
    * nProbe in {1, 4, 16} against the brute-force truth. Pinnable because
    * (a) n_exact is structural (50 queries x k=3), (b) hits are monotone
    * in nProbe — candidate cells only grow, and the global top-k is closed
    * downward under "better", so topk(C) ∩ truth = C ∩ truth — and (c) at
    * nProbe = nLists the probed candidate set IS the corpus and both paths
    * share the same cosine fold + (cosine desc, id) tie-break, so recall
    * at full probe is EXACTLY 1.0, not approximately. Floors at partial
    * probes gate real recall (q49 pins the production nProbe=4 config at
    * 0.6; the 0.5 here leaves cross-SF headroom). */
  def q38_ann_ivf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val exact = CosineKnn.topK(emb, "vec_id", "embedding", col("id") < 50, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val exactN = exact.agg(count(lit(1)).cast("long").as("n_exact"))
    val curve = Seq(1, 4, 16).map { p =>
      val approx = graft.similarity.IvfAnn.topKProbed(emb, "vec_id",
          "embedding", queryPredicate = col("id") < 50, k = 3,
          nLists = 16, nProbe = p)
        .select(col("query_id"), col("neighbor_id"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).cast("long").as("n_hits"))
        .crossJoin(exactN)
        .select(lit(p.toLong).as("n_probe"), col("n_hits"), col("n_exact"))
    }.reduce(_ unionByName _)
    val floor = when(col("n_probe") === 1, 0.2)
      .when(col("n_probe") === 4, 0.5)
      .otherwise(1.0)
    val w = Window.orderBy(col("n_probe"))
    curve
      .withColumn("recall_floor_ok",
        col("n_hits").cast("double") / col("n_exact") >= floor)
      .withColumn("monotone_ok",
        col("n_hits") >= coalesce(lag(col("n_hits"), 1).over(w), lit(0L)))
      .select(col("n_probe"), col("n_exact"), col("recall_floor_ok"),
        col("monotone_ok"))
      .orderBy(col("n_probe"))
  }

  /** Driver-checkable quality gate for the IVF path: recall@3 of q38's
    * exact configuration vs the [[q30_ann_cosine]]-style brute-force truth,
    * emitted as a one-row boolean (measured ~0.70 across SFs; the oracle
    * pins recall_ok=true at a 0.6 bound, so a recall regression
    * hash-mismatches instead of hiding behind a rows-only check). */
  def q49_ivf_recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val exact = CosineKnn.topK(emb, "vec_id", "embedding", col("id") < 50, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val approx = graft.similarity.IvfAnn.topKProbed(emb, "vec_id", "embedding",
        col("id") < 50, k = 3, nLists = 16, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    val hit = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val tot = exact.agg(count(lit(1)).cast("long").as("n_exact"))
    hit.crossJoin(tot).select(
      col("n_exact"),
      (col("n_hit") / col("n_exact") >= 0.6).as("recall_ok"))
  }

  /** Embedding near-dup: top-20 most-similar pairs among LSH candidates
    * (8 tables x 6 bits — >98% recall on cosine>=0.9 pairs, no all-pairs
    * join; the DuckDB oracle replicates the bucketing bit-for-bit). */
  def q32_embed_topk_pairs(spark: SparkSession, dir: String): DataFrame =
    LshAnn.topPairsBucketed(Tables.embeddings(spark, dir), "vec_id", "embedding",
        topN = 20, nTables = 8, nBits = 6)
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))

  /** Normalized exact dedup: casefold + strip punctuation + collapse
    * whitespace before hashing, so formatting-only variants collide
    * (the preprocessing step every dedup pipeline runs first). */
  def q44_normalized_dedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // project BEFORE the agg: only (doc_id, norm_text) ride the shuffle —
    // not the raw text and metadata columns — and the min_by payload
    // struct stays 2 fields, which also keeps the generated aggregate
    // small (the q44 cold-start was Janino-compiling a payload struct of
    // every document column, inlining the normalize chain twice)
    Dedup.byContentHash(
        d.select(col("doc_id"), TextOps.normalize(col("text")).as("norm_text")),
        md5(col("norm_text")), "doc_id")
      .select(col("doc_id"), col("norm_text"), col("dup_count"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting via Karp-Rabin rolling hashes: whole-doc
    * fingerprint + winnowing-style k-gram hash profile (min + distinct
    * count). One compiled pass per doc; no shuffle. */
  def q37_fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.RollingHash
    val grams = RollingHash.rollingHashGrams(col("text"), 8)
    Tables.documents(spark, dir).select(
      col("doc_id"),
      RollingHash.rollingHash(col("text")).as("doc_fp"),
      array_min(grams).as("min_gram_fp"),
      size(array_distinct(grams)).cast("long").as("n_gram_fps"))
      .orderBy(col("doc_id"))
  }

  /** PII-style redaction over log lines derived from event fields (the
    * corpus itself carries no PII, so the lines are built from real ids —
    * integer renders are engine-portable). The scrub is a codegen'd
    * regexp_replace chain + match-count audit columns; at scale it's one
    * narrow map over the scan. */
  def q50_pii_redact(spark: SparkSession, dir: String): DataFrame = {
    val idPat = "user=[0-9]+"
    val ipPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    Tables.events(spark, dir)
      .select(col("event_id"),
        concat(col("event_type"), lit(" user="), col("user_id"),
          lit(" ip=10.0."), pmod(col("user_id"), lit(256)),
          lit("."), pmod(col("event_id"), lit(256))).as("line"))
      .select(
        col("event_id"),
        TextOps.matchCount(col("line"), idPat).as("n_ids"),
        TextOps.matchCount(col("line"), ipPat).as("n_ips"),
        TextOps.redact(col("line"),
          Seq(idPat -> "user=[ID]", ipPat -> "[IP]")).as("redacted"))
      .orderBy(col("event_id"))
  }

  /** Repetition / boilerplate profile: token totals, distinct counts, and
    * the modal token's share — the count-based quality signals dedup
    * pipelines threshold on. ALL PER-ROW COMPILED: the modal count comes
    * from the [[graft.functions.ModalCount]] kernel inside the scan's
    * codegen stage, so the old two-shuffle spelling (explode →
    * groupBy(doc, token) → per-doc rollup, shipping every token occurrence
    * through an exchange) collapses to a narrow map; the only exchange
    * left is the presentation sort. All-integer counts with final
    * divisions keep it engine-portable. */
  def q51_repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        size(TextOps.distinctTokens(col("text"))).cast("long").as("n_distinct"),
        graft.functions.ModalCount.modalCount(TextOps.tokens(col("text")))
          .as("top_tok_n"))
      .withColumn("rep_ratio",
        col("top_tok_n").cast("double") / col("n_tokens").cast("double"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))

  /** Per-label centroids of L2-normalized embeddings (first 8 components):
    * the building block for cluster summaries / cosine-centroid assignment.
    * Component sums go through DECIMAL(27,12) so the aggregation is
    * order-independent (bit-identical on any partitioning — a float sum
    * would drift with shuffle order); the mean divides as float64. */
  def q52_embed_centroids(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("label"), CosineKnn.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(CosineKnn.dot(col("v"), col("v"))))
      // slice BEFORE exploding: the generator emits 8 rows/vector, not 64
      .select(col("label"), col("nrm"),
        posexplode(slice(col("v"), 1, 8)).as(Seq("pos", "comp")))
    e.groupBy(col("label"), col("pos"))
      .agg(sum((col("comp") / col("nrm")).cast("decimal(27,12)")).as("s"),
        count(lit(1)).as("n_vectors"))
      .select(col("label"), (col("pos") + 1).cast("int").as("pos"),
        (col("s").cast("double") / col("n_vectors").cast("double")).as("centroid"),
        col("n_vectors"))
      .orderBy(col("label"), col("pos"))
  }

  /** Per-language vocabulary profile: top-5 tokens by frequency with
    * stable tie-break — corpus statistics at scale. Combinable counts
    * shuffle on (lang, token); the per-lang top-k then goes through the
    * custom [[graft.plans.TopKPerKeyNode]] heap operator, NOT a
    * `row_number` window — a window partitioned by lang would funnel each
    * language's entire vocabulary (millions of rows at corpus scale)
    * through one task's sort, while the heap keeps 5 rows per key per
    * partition. Ranks are recovered from the bounded (≤5/lang) survivors
    * with a sorted-array posexplode, so no Window appears anywhere. */
  def q53_vocab_profile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).cast("long").as("n"))
    val top = graft.plans.TopKPerKey.topKPerKey(counts, Seq(col("lang")),
      Seq(col("n").desc, col("tok").asc), k = 5)
    // (-n, tok) sorted ascending == (n desc, tok asc); input is ≤5 rows/lang
    top.groupBy(col("lang"))
      .agg(sort_array(collect_list(struct((-col("n")).as("negn"), col("tok")))).as("arr"))
      .select(col("lang"), posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("lang"), col("s.tok").as("tok"),
        (-col("s.negn")).cast("long").as("n"),
        (col("pos") + 1).cast("bigint").as("rank"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Cluster view shared by q54/q67: sizes via a map-side-combinable
    * groupBy joined back on cluster_id — NOT a window over cluster_id,
    * which would funnel a whale component's every member through one
    * window task's buffer. The join key is the CC output, already
    * well-distributed; the size side is one row per cluster. */
  private def clusterView(clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("bigint").as("cluster_size"))
    clusters.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate CLUSTERS from the q27 near-dup pairs via distributed
    * connected components (min-label propagation, one shuffle join per
    * round): pairwise dedup under-deletes (a~b, b~c keeps a AND c); the
    * cluster view keeps exactly one representative per component. Output:
    * every doc with its cluster id, cluster size, and keep flag. */
  def q54_dup_clusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = MinHashLsh.nearDuplicatePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
    clusterView(Dedup.duplicateClusters(pairs, docs.select(col("doc_id")), "doc_id"))
  }

  /** q54's cluster view computed by the ALTERNATE algorithm: large-star/
    * small-star contraction ([[graft.transform.Dedup.duplicateClustersBigStar]])
    * instead of min-label propagation — O(log² n) rounds regardless of
    * component diameter, the whale-component scale path. Identical output
    * contract, gated by the same recursive-CTE oracle. */
  def q67_dup_clusters_bigstar(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = MinHashLsh.nearDuplicatePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
    clusterView(
      Dedup.duplicateClustersBigStar(pairs, docs.select(col("doc_id")), "doc_id"))
  }

  /** Exact per-group percentiles (linear interpolation — matches DuckDB's
    * quantile_cont bit-for-bit). Exact percentile sorts within each group;
    * at 100 TB prefer `approx_percentile` (t-digest-style sketch, one pass,
    * mergeable) when a bounded rank error is acceptable — this query is the
    * exactness baseline the sketch is judged against. */
  def q55_quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Deterministic train/val/test split + stratified sample audit: bucket
    * assignment is a pure function of doc_id (md5-derived, engine-portable
    * — NOT rand(seed), which reshuffles whenever partitioning changes), so
    * a re-ingested document lands in the same split forever. Output: per
    * (lang, split) doc counts plus how many survive a 100-permille
    * stratified sample. */
  def q56_split_sample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    Tables.documents(spark, dir)
      .withColumn("split", StableHash.split(col("doc_id"),
        Seq(800 -> "train", 900 -> "val"), "test"))
      .withColumn("sampled", StableHash.samplePredicate(col("doc_id"), 100))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).cast("long").as("n_sampled"))
      .orderBy(col("lang"), col("split"))
  }

  /** Trailing-hour rolling aggregates per user: a RANGE window frame over
    * event time (epoch seconds), not ROWS — the frame is defined by the
    * clock, so bursts widen it and gaps empty it. One shuffle on user_id;
    * the frame scan is per-partition. Money math in DECIMAL for parity. */
  def q57_rolling_window(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"))
      .rangeBetween(-3600L, 0L)
    Tables.events(spark, dir)
      .withColumn("ts_s", unix_timestamp(col("ts")))
      .select(col("user_id"), col("event_id"), col("ts_s"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        sum(Parity.dec(col("value"))).over(w).cast("double").as("sum_trailing_1h"))
      .orderBy(col("user_id"), col("ts_s"), col("event_id"))
  }

  /** Split decontamination audit: near-duplicate pairs (q27 machinery) that
    * STRADDLE the q56 train/val/test split are evaluation leakage — a test
    * document with a train-set near-duplicate inflates benchmarks. Counts
    * pairs by (split_a, split_b); the off-diagonal cells are the
    * contamination to fix (drop the eval-side member or re-split by
    * cluster, q54). */
  def q58_decontamination(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val docs = Tables.documents(spark, dir)
    val pairs = MinHashLsh.nearDuplicatePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
    val splits = docs.select(col("doc_id"),
      StableHash.split(col("doc_id"), Seq(800 -> "train", 900 -> "val"), "test").as("split"))
    pairs
      .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaky", col("split_a") =!= col("split_b"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Sequence-packing layout: concatenate docs per language (doc_id order)
    * and assign each doc to the 4096-token context window its first token
    * lands in — the batch-packing shape training loaders use. The running
    * total is [[graft.transform.PrefixSum]]'s two-pass distributed prefix
    * sum (range-partition on (lang, doc_id) → tiny per-partition totals →
    * broadcast offsets → within-partition cumsum), NOT a window partitioned
    * by lang — that window would push each language's ENTIRE corpus through
    * one task at 100 TB. Bins then aggregate with combinable counts. */
  def q59_sequence_packing(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tok"))
    graft.transform.PrefixSum
      .groupedRunningSum(toks, Seq("lang"), "doc_id", "n_tok", "cum")
      .withColumn("bin",
        floor((col("cum") - col("n_tok")).cast("double") / 4096.0).cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("sum_tokens"))
      .orderBy(col("lang"), col("bin"))
  }

  /** Quality-filter funnel: how many documents survive each successive
    * pipeline stage — length band, repetition cap (modal-token share),
    * exact-dedup representative. One report row; every stage is a
    * combinable aggregate. The dedup-representative flag is an ID-ONLY
    * aggregate — (md5(text), min(doc_id)) — joined back on doc_id, never a
    * window over md5(text): the window spelling would shuffle the full
    * text payload on the hash, where this shuffles O(ids) bytes. */
  def q60_filter_funnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // representative ids per content hash: the wide shuffle carries only
    // (128-bit hash, id) — text is pruned before the exchange; the
    // repetition ratio is the per-row ModalCount kernel (no token shuffle)
    val repIds = docs.select(md5(col("text")).as("__h"), col("doc_id"))
      .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("__is_rep"))
    val flagged = docs.select(col("doc_id"), col("n_chars"),
        (graft.functions.ModalCount.modalCount(TextOps.tokens(col("text")))
          .cast("double") /
          TextOps.tokenCount(col("text")).cast("double")).as("rep_ratio"))
      .join(repIds, Seq("doc_id"), "left")
      .select(
        (col("n_chars") >= 150 && col("n_chars") <= 1000).as("pass_len"),
        (col("rep_ratio") < 0.2).as("pass_rep"),
        coalesce(col("__is_rep"), lit(false)).as("is_rep"))
    flagged.agg(
      count(lit(1)).as("n_total"),
      sum(when(col("pass_len"), 1L).otherwise(0L)).cast("long").as("n_len"),
      sum(when(col("pass_len") && col("pass_rep"), 1L).otherwise(0L)).cast("long").as("n_len_rep"),
      sum(when(col("pass_len") && col("pass_rep") && col("is_rep"), 1L).otherwise(0L))
        .cast("long").as("n_final"))
  }

  /** Sketch-accuracy gates: the mergeable one-pass approximations
    * (HyperLogLog++ distinct counts, approx_percentile quantile sketch)
    * are THE 100 TB path for q07/q55-class questions — this query computes
    * both sketch and exact answers and emits oracle-pinned booleans
    * bounding the error, so a sketch regression hash-mismatches just like
    * a wrong exact answer would. */
  def q61_sketch_gates(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(
      count_distinct(col("user_id")).as("exact_u"),
      approx_count_distinct(col("user_id"), 0.02).as("approx_u"),
      expr("percentile(value, 0.5)").as("p50"),
      expr("approx_percentile(value, 0.5, 10000)").as("p50a"))
    .select(
      (abs(col("approx_u") - col("exact_u")).cast("double") /
        col("exact_u").cast("double") <= 0.05).as("hll_ok"),
      (abs(col("p50") - col("p50a")) <= 1.0).as("pctl_ok"))

  /** Per-key top-k through the custom [[graft.plans.TopKPerKeyNode]]
    * operator (logical node + planner strategy + heap exec): top-3 orders
    * per customer without sorting any key group — O(n log k) per
    * partition, #keys x k rows of state, vs the window form's full
    * per-partition sort. The oracle computes the window form; identical
    * output proves the operator. */
  def q62_topk_per_key(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
        Tables.orders(spark, dir)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        keys = Seq(col("o_custkey")),
        order = Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))

  /** Language-ID confusion matrix: predicted vs labeled language counts —
    * the eval view that tells you WHERE the classifier fails (which pairs
    * confuse), not just how often. One combinable groupBy. */
  def q63_lang_confusion(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), LangId.predict(col("text")).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))

  /** Per-language dataset card: the datasheet row a training run records —
    * doc/token volume, average length, exact-dup overhead, and split
    * sizes. Every column is a combinable aggregate over one scan (the
    * md5-distinct is the only extra shuffle), so the card costs the same
    * at any corpus size. */
  def q64_dataset_card(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val b = StableHash.bucket(col("doc_id"), 1000)
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text"))).cast("long").as("sum_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double")).as("avg_chars"),
        (count(lit(1)) - count_distinct(md5(col("text")))).cast("long").as("n_dup_docs"),
        sum(when(b < 800, 1L).otherwise(0L)).cast("long").as("n_train"),
        sum(when(b >= 800 && b < 900, 1L).otherwise(0L)).cast("long").as("n_val"),
        sum(when(b >= 900, 1L).otherwise(0L)).cast("long").as("n_test"))
      .orderBy(col("lang"))
  }

  /** Multilingual sampling mix: per-language token mass p_l and the
    * temperature-resampled weight w_l ∝ p_l^α (α = 0.3, the standard
    * upweight-the-tail mix for multilingual training). Two tiny aggregates
    * + a one-row cross join; weights rounded to 6 decimals on BOTH engines
    * so libm pow's last-ulp differences can't break the hash. */
  def q68_sampling_mix(spark: SparkSession, dir: String): DataFrame = {
    val perLang = Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text"))).cast("long").as("n_tokens"))
    val totals = perLang.agg(
      sum(col("n_tokens")).cast("long").as("total_tokens"),
      sum(pow(col("n_tokens").cast("double"), lit(0.3))).as("z"))
    perLang.crossJoin(totals)
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total_tokens").cast("double"), 6).as("p"),
        round(pow(col("n_tokens").cast("double"), lit(0.3)) / col("z"), 6).as("w_alpha"))
      .orderBy(col("lang"))
  }

  /** Per-source (domain) corpus profile — the CCNet-style view that drives
    * source-level keep/drop decisions: volume, language spread, length,
    * exact-dup overhead. One combinable-aggregate scan. */
  def q69_source_profile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        sum(TextOps.tokenCount(col("text"))).cast("long").as("sum_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double")).as("avg_chars"),
        (count(lit(1)) - count_distinct(md5(col("text")))).cast("long").as("n_dup_docs"))
      .orderBy(col("source"))

  /** N-gram decontamination (the GPT-3-style 13-gram check, n scaled to
    * this corpus): a TRAIN document is contaminated if it shares ANY
    * distinct 5-gram with any TEST document. Grams exist only as md5
    * hashes past the scan, so the shuffle carries (hash, id) — never gram
    * text; the test side is corpus-fraction-small, so AQE broadcasts it.
    * Output: one audit row. */
  def q70_ngram_decontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val docs = Tables.documents(spark, dir)
      .withColumn("split", StableHash.split(col("doc_id"),
        Seq(800 -> "train", 900 -> "val"), "test"))
    def grams(d: DataFrame) = d
      .select(col("doc_id"), explode(TextOps.shingles(col("text"), 5)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
    val trainGrams = grams(docs.filter(col("split") === "train"))
    val testGrams = grams(docs.filter(col("split") === "test"))
      .select(col("gh")).distinct()
    // Bloom semi-join pre-prune: at 100 TB the train-gram shuffle is the
    // dominant cost, and almost no train gram appears in the test set —
    // a filter built over the (small) test side drops non-candidate train
    // grams BEFORE the exchange. Sized from an exact count of the small
    // side; false positives just pass through to the exact join below.
    import graft.functions.BloomMightContainLong
    val bloom = BloomMightContainLong.buildOverHashes(
      testGrams, col("gh"), expectedItems = testGrams.count())
    val prunedTrain = trainGrams
      .filter(BloomMightContainLong.mightContain(xxhash64(col("gh")), bloom))
    val contaminated = prunedTrain.join(testGrams, "gh")
      .select(col("doc_id")).distinct()
    val counts = docs.groupBy()
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).cast("long").as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).cast("long").as("n_test"))
    counts.crossJoin(
      contaminated.agg(count(lit(1)).cast("long").as("n_contaminated_train")))
  }

  /** Unigram-LM quality score (the CCNet-style perplexity proxy): corpus
    * unigram frequencies -> per-document mean negative log-likelihood;
    * low-NLL docs read like the corpus, high-NLL docs are noise. Two
    * combinable aggregates + one join on token; the per-doc sum goes
    * through DECIMAL(27,12) so it is order-independent (float sums drift
    * with partitioning), and the final score rounds to 6 decimals on both
    * engines so libm log's last-ulp wiggle can't break the hash. */
  def q71_unigram_lm(spark: SparkSession, dir: String): DataFrame = {
    val docTok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val freq = docTok.groupBy(col("tok")).agg(sum(col("c")).as("tf"))
    val total = freq.agg(sum(col("tf")).cast("double").as("n_total"))
    // The token join is Zipf-skewed: stopwords put ~n_docs rows on one
    // key's partition. Split deliberately instead of inheriting AQE's
    // rescue: the top-frequency HEAD (tiny, deterministically ordered)
    // broadcast-joins — skewed keys never shuffle on tok — and only the
    // long tail (bounded rows per key) takes the shuffle join.
    val head = broadcast(freq.orderBy(desc("tf"), col("tok")).limit(1024))
    val withHead = docTok.join(head, Seq("tok"), "left")
    val joined = withHead.filter(col("tf").isNotNull)
      .unionByName(withHead.filter(col("tf").isNull).drop("tf").join(freq, "tok"))
    joined.crossJoin(total)
      .withColumn("nll", -log(col("tf").cast("double") / col("n_total")))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tok"),
        sum((col("c").cast("double") * col("nll")).cast("decimal(27,12)")).as("s"))
      .select(col("doc_id"), col("n_tok"),
        round(col("s").cast("double") / col("n_tok").cast("double"), 6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** Int8 symmetric quantization audit — the 4x storage cut every
    * 100 TB-scale vector store takes, with its error bounds measured
    * rather than assumed: per-vector scale = max|x|/127, dequantization
    * error aggregated per label. The scale and the per-vector error
    * partials are ARRAY FOLDS on the row — no explode, no per-vector
    * shuffle, no self-join: the only exchange carries one partial row per
    * vector into the per-label combine. Per-element math is identical IEEE
    * doubles on both engines; error sums fold through DECIMAL (exact,
    * associative, so the row-fold + shuffle-combine order can't matter)
    * and the mse rounds to 12 decimals because double→decimal conversion
    * differs between engines at the last digit (shortest-repr vs binary
    * value). max_err is exact un-rounded. */
  def q72_embed_quantize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    def err(x: Column, scale: Column): Column =
      x - least(greatest(round(x / scale), lit(-127.0)), lit(127.0)) * scale
    val partials = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"),
        CosineKnn.toDouble(col("embedding")).as("v"))
      .withColumn("scale",
        aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0)
      .select(col("label"), size(col("v")).cast("long").as("n_elems"),
        // acc stays (30,18): the per-step add is (31,18) — exact, same
        // scale — and the shrink cast back is a pure range check (sums
        // here are < 1), so every fold step is exact decimal math
        aggregate(col("v"), lit(java.math.BigDecimal.ZERO).cast("decimal(30,18)"),
          (acc, x) => (acc +
            (err(x, col("scale")) * err(x, col("scale"))).cast("decimal(20,18)"))
            .cast("decimal(30,18)"))
          .as("s_vec"),
        aggregate(col("v"), lit(0.0),
          (acc, x) => greatest(acc, abs(err(x, col("scale"))))).as("max_vec"))
    partials.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("s_vec")).cast("double") /
          sum(col("n_elems")).cast("double"), 12).as("mse"),
        max(col("max_vec")).as("max_err"))
      .orderBy(col("label"))
  }

  /** Winnowing (MOSS) near-duplicate pairs — the fifth dedup modality
    * (vs MinHash q27, SimHash q28, n-gram Jaccard q29, embedding q32):
    * per-doc fingerprint sets are the distinct minima of sliding windows
    * over Karp-Rabin 8-gram hashes ([[graft.functions.Winnow]], compiled),
    * position-robust and ~2/(w+1) the gram count. Pairs sharing >= 40
    * capped fingerprints are near-dups. Scale shape: fingerprints shuffle
    * as (hash, id); a frequency cap drops boilerplate fingerprints before
    * the self-join (a fingerprint in s docs is s^2/2 candidate pairs —
    * the only quadratic risk), mirroring q27's maxBucket. */
  def q74_winnow_dedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{RollingHash, Winnow}
    val fps = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(Winnow.winnow(RollingHash.rollingHashGrams(col("text"), 8), 4)).as("fp"))
    val kept = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("__c"))
        .filter(col("__c") <= 50).select(col("fp")),
      "fp")
    kept.select(col("fp"), col("doc_id").as("id_a"))
      .join(kept.select(col("fp"), col("doc_id").as("id_b")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 40)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Materialize the q68 training mix: per-language keep-rates derived
    * from the temperature weights (rate_l ∝ w_l / p_l, β=0.5 budget,
    * capped at 1), applied as a DETERMINISTIC StableHash threshold — the
    * sampler that actually builds the mixture, reproducible across reruns,
    * partitionings, and engines (rand() is none of those). Rates are a
    * 5-row broadcast; the scan-side predicate is per-row narrow. */
  def q75_mixture_sample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), TextOps.tokenCount(col("text")).as("n_tok"))
    val perLang = docs.groupBy(col("lang"))
      .agg(sum(col("n_tok")).cast("long").as("lang_tokens"))
    val totals = perLang.agg(
      sum(col("lang_tokens")).cast("double").as("n_total"),
      sum(pow(col("lang_tokens").cast("double"), lit(0.3))).as("z"))
    val rates = perLang.crossJoin(totals).select(col("lang"),
      least(lit(1000L),
        round(lit(500.0) *
          (pow(col("lang_tokens").cast("double"), lit(0.3)) / col("z")) /
          (col("lang_tokens").cast("double") / col("n_total"))).cast("long"))
        .as("rate_permille"))
    docs.join(broadcast(rates), "lang")
      .filter(StableHash.bucket(col("doc_id"), 1000) < col("rate_permille"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_sampled"),
        sum(col("n_tok")).cast("long").as("n_tokens_sampled"),
        max(col("rate_permille")).as("rate_permille"))
      .orderBy(col("lang"))
  }

  /** PMI collocations: the top bigrams by pointwise mutual information
    * (min support 5) — the classic corpus-statistics pass behind phrase
    * mining / tokenizer-merge candidates. Adjacent pairs come from a
    * zip of the token array with its own tail (NO token cross product
    * exists anywhere); bigram and unigram counts are combinable; the
    * final top-k is a TakeOrdered, not a global sort. ln rounds to 6
    * decimals on both engines (libm parity). */
  def q76_collocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir).select(TextOps.tokens(col("text")).as("tk"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).cast("double").as("n_total"))
    val bigrams = toks.filter(size(col("tk")) >= 2)
      .select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    bigrams
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log(col("c_ab").cast("double") * col("n_total") /
          (col("c_a").cast("double") * col("c_b").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** SEMANTIC decontamination: the embedding-space counterpart of q70's
    * n-gram overlap — a train example is contaminated when its nearest
    * TEST vector by cosine exceeds a threshold (paraphrases and
    * translations that share no 5-gram still collide here). Split is the
    * same engine-independent [[graft.functions.StableHash]] as q56/q70.
    * Scale shape: the TEST side is small by construction (that's what a
    * held-out set is), so it BROADCASTS and the per-train max-cosine is a
    * map-side fold over the broadcast rows — partial max collapses the
    * |train|x|test| pairs to one row per train vector before the only
    * exchange (the per-label combine). Exact, so fully oracle-checked;
    * at larger test sets swap the inner loop for the q31 LSH bucketing. */
  def q77_semantic_decontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{DotProduct, StableHash}
    val n = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        CosineKnn.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(DotProduct.dotProduct(col("v"), col("v"))))
      .withColumn("split",
        StableHash.split(col("vec_id"), Seq(900 -> "train"), "test"))
    val train = n.filter(col("split") === "train")
    val test = n.filter(col("split") === "test")
      .select(col("v").as("tv"), col("nrm").as("tnrm"))
    train.crossJoin(broadcast(test))
      .withColumn("cos",
        DotProduct.dotProduct(col("v"), col("tv")) / (col("nrm") * col("tnrm")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("cos")).as("max_cos"))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_train"),
        sum(when(col("max_cos") >= 0.35, 1L).otherwise(0L)).cast("long")
          .as("n_contaminated"),
        round(max(col("max_cos")), 6).as("top_cos"))
      .orderBy(col("label"))
  }

  /** Semantic decontamination, LSH-BUCKETED: q77's scale path for when the
    * held-out set outgrows a broadcast. Identical output contract to q77
    * (per-label train size, contaminated count, top cosine) but the inner
    * loop is [[graft.similarity.LshAnn.maxCosineBucketed]] — band keys on
    * both sides (ids only through the explode), an equi-join per band key
    * with the combined-side bucket cap, exact cosine on candidates only.
    * Approximate where q77 is exact (a train/test pair must collide in one
    * of 8 tables — >98% recall at cosine>=0.9); the trade that removes both
    * the broadcast and the |train| x |test| loop. A train vector whose
    * bands never meet a test vector counts uncontaminated. */
  def q83_decontam_lsh(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val n = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("split",
        StableHash.split(col("vec_id"), Seq(900 -> "train"), "test"))
    val train = n.filter(col("split") === "train")
    val test = n.filter(col("split") === "test")
    val mx = LshAnn.maxCosineBucketed(
        train.select(col("vec_id"), col("embedding")),
        test.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", maxBucket = Some(200))
      .withColumnRenamed("id", "vec_id")
    train.select(col("vec_id"), col("label"))
      .join(mx, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_train"),
        sum(when(col("max_cos") >= 0.35, 1L).otherwise(0L)).cast("long")
          .as("n_contaminated"),
        round(max(col("max_cos")), 6).as("top_cos"))
      .orderBy(col("label"))
  }

  /** Corpus-quantile length profile through [[graft.functions
    * .SearchSortedDouble]]: exact quartile cuts (one tiny 4-value collect —
    * bounded driver state, like the IVF sample) compiled into a per-row
    * O(log n) binary search, then a combinable count per (source, bucket).
    * The pattern scales to thousands of cuts (per-domain length bands,
    * token-budget tiers) with the same two jobs: quantile pass + bucket
    * pass; no join, no window, the bucket column never shuffles text. */
  def q78_length_buckets(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SearchSortedDouble
    val docs = Tables.documents(spark, dir)
    val cuts = docs
      .agg(expr("percentile(n_chars, array(0.25, 0.5, 0.75))").as("c"))
      .first().getSeq[Double](0).toArray
    docs
      .withColumn("bucket",
        SearchSortedDouble.searchSorted(col("n_chars"), cuts).cast("long"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("n_chars")).cast("long").as("min_chars"),
        max(col("n_chars")).cast("long").as("max_chars"))
      .orderBy(col("source"), col("bucket"))
  }

  /** Blocklist filtering (the C4/Dolma "bad words" gate): per source,
    * how many documents contain a blocked token, and the blocked-token
    * share of all tokens. Per-row compiled array math against a literal
    * blocklist (at real scale the list is thousands of terms — still a
    * broadcast-free per-row filter via array_intersect on a sorted
    * list); the only exchange is the per-source combine. */
  def q79_blocklist_filter(spark: SparkSession, dir: String): DataFrame = {
    val blocklist = array(lit("slow"), lit("big"), lit("the"))
    Tables.documents(spark, dir)
      .select(col("source"), TextOps.tokens(col("text")).as("tk"))
      .select(col("source"), size(col("tk")).cast("long").as("n_tok"),
        size(filter(col("tk"), t => array_contains(blocklist, t)))
          .cast("long").as("n_blocked"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("n_blocked") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_flagged"),
        round(sum(col("n_blocked")).cast("double") /
          sum(col("n_tok")).cast("double"), 6).as("blocked_ratio"))
      .orderBy(col("source"))
  }

  /** INCREMENTAL near-dup: a new batch (doc_id % 10 == 0 stands in for
    * "today's crawl") deduped against the already-indexed corpus via
    * [[graft.similarity.MinHashLsh.nearDuplicatesAgainstIndex]] — the
    * corpus is fingerprinted once and only its two small index tables
    * join the batch; per-batch cost is O(batch), not O(corpus). Bucket
    * cap spans both sides, so the oracle's all-docs cap semantics hold
    * exactly. Streaming twin: `StreamOps.nearDupCollisions`. */
  def q80_incremental_dedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBatch = col("doc_id") % 10 === 0
    val corpusFps = MinHashLsh.fingerprints(docs.filter(!isBatch), "doc_id", "text")
    val corpusBands = MinHashLsh.bandIndex(corpusFps, "doc_id")
    MinHashLsh.nearDuplicatesAgainstIndex(corpusFps, corpusBands,
        docs.filter(isBatch), "doc_id", "text",
        threshold = 0.5, maxBucket = Some(100))
      .orderBy(col("corpus_id"), col("batch_id"))
  }

  /** Deterministic k-per-group sample — "give me exactly 5 documents per
    * language, the same 5 on every engine/run/partitioning": order by the
    * md5-derived [[graft.functions.StableHash]] bucket of doc_id (a
    * reproducible uniform draw, NOT Spark-internal rand) and keep the k
    * smallest per group THROUGH THE HEAP [[graft.plans.TopKPerKey]]
    * operator — no per-language window sort ever materializes; state is
    * #langs x k rows. Complements q56/q75 (rate-based sampling): this is
    * the exact-count spelling. */
  def q81_group_sample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        StableHash.bucket(col("doc_id"), 1000000).as("draw"))
    graft.plans.TopKPerKey.topKPerKey(docs,
        keys = Seq(col("lang")),
        order = Seq(col("draw").asc, col("doc_id").asc), k = 5)
      .select(col("lang"), col("doc_id"), col("draw").cast("long").as("draw"))
      .orderBy(col("lang"), col("draw"), col("doc_id"))
  }

  /** SEMANTIC cluster dedup (SemDeDup, Abbas et al. 2023): high-cosine
    * embedding pairs from the LSH buckets (never all-pairs, and buckets
    * above `maxBucket` are dropped before the pair join — dup-heavy corpora
    * are exactly where near-identical embeddings pile into one degenerate
    * bucket) become edges,
    * connected components group transitively-similar vectors (a~b~c with
    * no direct a~c — exactly what pairwise semantic dedup misses), one
    * representative kept per cluster. CC runs the whale-safe large-star/
    * small-star contraction; cluster sizes are the groupBy+join (never a
    * window over cluster_id). The embedding-space sibling of q54.
    *
    * Bench note (r6→r7): the bucket-cap stage added in r6 costs ~1 s at
    * sf0.1 on top of the r5 shape — deliberate, it is the skew guard
    * that keeps a dup-heavy degenerate bucket from going quadratic at
    * 100 TB; the band keys themselves now come from the fused
    * [[graft.functions.HyperplaneBits]] expression (one plan node per
    * table instead of nBits dot/when subtrees). */
  def q82_semantic_clusters(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val pairs = LshAnn.pairsAbove(emb, "vec_id", "embedding", threshold = 0.35,
        maxBucket = Some(200))
      .select(col("id_a"), col("id_b"))
    val clusters =
      Dedup.duplicateClustersBigStar(pairs, emb.select(col("vec_id")), "vec_id")
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("bigint").as("cluster_size"))
    clusters.join(sizes, "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        (col("vec_id") === col("cluster_id")).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Quality gate for q28's SimHash (the q49-for-q38 pattern): Hamming
    * distance between fingerprints must track shingle Jaccard — near-dup
    * pairs (the q27 MinHash set) average far fewer differing bits than
    * deterministic background pairs (`doc_id`, `doc_id + 37`). Emitted as
    * exact pair counts + mean Hamming distances + an oracle-pinned boolean,
    * so a SimHash regression hash-mismatches instead of hiding behind q28's
    * rows-only check. Oracle parity: Hamming is invariant under any fixed
    * bit permutation, and Spark's big-endian md5-u64 fingerprint is one
    * fixed bit-permutation of DuckDB's little-endian `md5_number_upper`
    * construction — so the oracle recomputes SimHash bit votes straight
    * from `md5_number_upper` and the distances match exactly. */
  def q84_simhash_quality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sx = docs.select(col("doc_id"),
      SimHash64.simhash64(TextOps.tokens(col("text"))).as("sh"))
    def ham(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      bit_count(a.bitwiseXOR(b))
    val nd = MinHashLsh.nearDuplicatePairs(docs, "doc_id", "text",
        threshold = 0.5, maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
      .join(sx.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sx.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .agg(count(lit(1)).cast("long").as("n_neardup"),
        sum(ham(col("sh_a"), col("sh_b"))).as("ham_nd"))
    val bg = sx.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .join(sx.select((col("doc_id") - 37).as("id_a"), col("sh").as("sh_b")), "id_a")
      .agg(count(lit(1)).cast("long").as("n_background"),
        sum(ham(col("sh_a"), col("sh_b"))).as("ham_bg"))
    nd.crossJoin(bg).select(
        col("n_neardup"), col("n_background"),
        round(col("ham_nd").cast("double") / col("n_neardup").cast("double"), 6)
          .as("mean_ham_neardup"),
        round(col("ham_bg").cast("double") / col("n_background").cast("double"), 6)
          .as("mean_ham_background"))
      .withColumn("simhash_ok",
        col("mean_ham_neardup") + 8.0 <= col("mean_ham_background"))
  }

  /** Stored-index dedup LIFECYCLE (q80's missing half): the corpus is
    * fingerprinted once into a persistent [[graft.similarity.DedupIndex]]
    * (the shared [[graft.similarity.BucketedIndex]] lifecycle), then two
    * "crawl batches" round-trip it — load → dedup batch 1 → APPEND → dedup
    * batch 2 (which must now also see batch-1 docs as corpus). The indexed
    * corpus is never re-read or re-shingled; each batch costs O(batch).
    * The bucket cap spans the combined (index + batch) sides per stage,
    * and the oracle replicates both per-stage cap scopes exactly.
    * Bench note (r6→r7): the per-stage combined-cap pass added ~0.7 s at
    * sf0.1 over r5 — deliberate; capping only the batch side would let a
    * degenerate INDEX bucket go quadratic as the corpus accretes. */
  def q85_index_lifecycle(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val m10 = col("doc_id") % 10
    val path = graft.core.Scratch.dir("graft-dedup-index")
    graft.similarity.DedupIndex.build(
      docs.filter(m10 =!= 0 && m10 =!= 5), "doc_id", "text", path)
    // materialize batch-1 matches BEFORE the append mutates the index dirs
    // (a lazy scan could re-list files and see batch-1 docs as corpus)
    val m1 = graft.similarity.DedupIndex.dedupBatch(spark, path,
      docs.filter(m10 === 0), "doc_id", "text",
      threshold = 0.5, maxBucket = Some(100)).localCheckpoint(true)
    graft.similarity.DedupIndex.append(
      docs.filter(m10 === 0), "doc_id", "text", path)
    val m2 = graft.similarity.DedupIndex.dedupBatch(spark, path,
      docs.filter(m10 === 5), "doc_id", "text",
      threshold = 0.5, maxBucket = Some(100))
    m1.withColumn("batch", lit(1L))
      .unionByName(m2.withColumn("batch", lit(2L)))
      .orderBy(col("batch"), col("corpus_id"), col("batch_id"))
  }

  /** Multimodal binary plumbing: payload bytes + deterministic fake decode
    * (portable column part; mapPartitions stub covered by unit tests). */
  def q33_multimodal(spark: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packBinary(Tables.documents(spark, dir),
      "doc_id", "text", "image/png", "source")
    val (w, h) = Multimodal.fakeDimensions(col("payload"))
    packed.select(
      col("media_id"),
      length(col("payload")).cast("long").as("byte_len"),
      md5(col("payload")).as("content_md5"),
      w.as("width"), h.as("height"))
      .orderBy(col("media_id"))
  }

  /** End-to-end media-prep pipeline over binary payloads — decode dims →
    * aspect-preserving resize (224 on the long side) → strided frame
    * sampling (64-byte frames, every 4th), rolled up per source: q33's
    * schema exercised as the full video-prep chain. Every step here is
    * engine-portable arithmetic over payload hash/length, so the WHOLE
    * chain is oracle-pinned; the partition-batched
    * [[graft.multimodal.MediaCodec]] decode/feature stubs carry the same
    * dataflow when a real codec replaces the arithmetic. Frames explode
    * only into a per-media count (codegen pipelines generate→aggregate —
    * frame bytes never shuffle). */
  def q114_media_pipeline(spark: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packBinary(Tables.documents(spark, dir),
      "doc_id", "text", "video/mp4", "source")
    val (w, h) = Multimodal.fakeDimensions(col("payload"))
    val dims = packed.select(col("media_id"), col("source"), col("payload"),
      w.as("w"), h.as("h"))
    val (ow, oh) = Multimodal.resizeDims(col("w"), col("h"), 224)
    val resized = dims.select(col("media_id"), col("source"), col("payload"),
      col("w"), col("h"), ow.as("out_w"), oh.as("out_h"))
    val frames = Multimodal.sampleFrames(resized, "payload",
      frameBytes = 64, stride = 4)
    val perMedia = frames.groupBy(col("media_id"), col("source"),
        col("w"), col("h"), col("out_w"), col("out_h"))
      .agg(count(lit(1)).cast("long").as("n_frames"))
    perMedia.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_media"),
        sum(col("n_frames")).cast("long").as("n_frames_sampled"),
        sum(col("out_w")).cast("long").as("sum_out_w"),
        sum(col("out_h")).cast("long").as("sum_out_h"),
        min(col("w")).cast("long").as("min_w"),
        max(col("h")).cast("long").as("max_h"))
      .orderBy(col("source"))
  }

  /** TRAINED Naive-Bayes target-distribution filter — closes q121's
    * missing half: q121 scores with stand-in weights; here the weights are
    * LEARNED distributed from a deterministic train split and applied to
    * the held-out split, the CCNet/GPT-3 "does this look like the target
    * corpus" filter end to end. The synthetic corpus is lexically
    * class-uniform (all five langs share one 31-token vocabulary at
    * uniform frequencies — a lang target is unlearnable by construction),
    * so the audit follows q356's planted-signal discipline: class 1
    * (doc_id parity) gets three planted marker tokens appended, and the
    * gate verifies the trained filter RECOVERS the plant on held-out docs
    * — near-perfect separation expected, exact confusion counts pinned by
    * the oracle. Mechanics: StableHash 80/20 split (engine-portable),
    * token → 256 hashed features, class-conditional counts DENSIFIED over
    * the full grid so add-1 smoothing is exact for absent buckets (q232's
    * discipline), per-bucket log-likelihood-ratio weights via
    * round(ln(int), 9) terms (q231's libm-parity discipline) folded per
    * test doc through DECIMAL(27,12) (order-immune), plus the log-prior;
    * the decision boundary is an exact DECIMAL compare. Output is pure
    * integers — nothing float-hashable at all. Scale shape: training is
    * ONE combinable (y, bucket) count aggregate; the 512-row weight table
    * broadcasts; scoring is a map-side join + one aggregate per doc; the
    * summary is 2 rows. */
  def q363_nb_filter(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val nF = 256
    val plant = array(lit("q363sig"), lit("q363sig"), lit("q363sig"))
    val docs = Tables.documents(spark, dir)
      .withColumn("is_train", StableHash.bucket(col("doc_id"), 1000) < 800)
      .withColumn("y", (col("doc_id") % 2).cast("int"))
    val tok = docs
      .select(col("doc_id"), col("is_train"), col("y"),
        explode(when(col("y") === 1,
            concat(TextOps.tokens(col("text")), plant))
          .otherwise(TextOps.tokens(col("text")))).as("t"))
      .withColumn("b", StableHash.bucket(col("t"), nF))
    val counts = tok.filter(col("is_train"))
      .groupBy(col("y"), col("b")).agg(count(lit(1)).cast("long").as("c"))
    val grid = spark.range(nF).select(col("id").as("b"))
      .crossJoin(spark.range(2).select(col("id").cast("int").as("y")))
    val dense = grid.join(counts, Seq("y", "b"), "left")
      .select(col("y"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val totals = dense.groupBy(col("y"))
      .agg(sum(col("c")).cast("long").as("tot"))
    val lw = dense.join(broadcast(totals), "y")
      .select(col("y"), col("b"),
        (round(log(col("c") + 1), 9) -
          round(log(col("tot") + nF), 9)).as("lw"))
    val wb = lw.filter(col("y") === 1)
      .select(col("b"), col("lw").as("lwp"))
      .join(lw.filter(col("y") === 0)
        .select(col("b"), col("lw").as("lwn")), "b")
      .select(col("b"),
        (col("lwp") - col("lwn")).cast("decimal(27,12)").as("w"))
    val prior = docs.filter(col("is_train")).groupBy(col("y"))
      .agg(count(lit(1)).cast("long").as("n"))
      .agg((max(when(col("y") === 1, round(log(col("n")), 9))) -
        max(when(col("y") === 0, round(log(col("n")), 9))))
        .cast("decimal(27,12)").as("prior"))
    tok.filter(!col("is_train"))
      .join(broadcast(wb), "b")
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("w")).as("s"))
      .crossJoin(broadcast(prior))
      .groupBy(col("y"))
      .agg(count(lit(1)).cast("long").as("n_test"),
        sum(when(col("s") + col("prior") > 0, 1L).otherwise(0L))
          .cast("long").as("n_pred_pos"))
      .select(col("y").cast("long").as("y"), col("n_test"),
        col("n_pred_pos"))
      .orderBy(col("y"))
  }

  /** Incremental profile maintenance (the DedupIndex lifecycle for
    * METRICS): the corpus arrives as three batches, each profiled ONCE
    * (one aggregate pass per batch) and merged into the stored profile,
    * one generation per batch; the current table profile is #columns
    * metadata rows — the data is never re-read. The oracle computes the
    * same statistics directly over the whole table, so the gate proves
    * the merge law exactly: counts and integral sums add, min/max fold
    * in native type (a "10" < "9" string trap would hash-mismatch on
    * doc_id's min/max). HLL distinct sketches union too but are
    * sketch-typed, so they're spec-gated (MetricsSpec) rather than
    * oracle-gated. */
  def q364_incremental_profile(spark: SparkSession, dir: String): DataFrame = {
    import graft.metrics.ProfileStore
    val docs = Tables.documents(spark, dir)
    val state = graft.core.Scratch.dir("graft-profile-state")
    val cols = Seq("doc_id", "lang", "n_chars")
    (0 until 3).foreach(b => ProfileStore.fold(spark, state, s"$state/slice=$b",
      cols)(docs.filter(col("doc_id") % 3 === b)))
    ProfileStore.summary(ProfileStore.current(spark, state))
      .select(col("column"), col("dtype"), col("n_rows"), col("n_null"),
        col("min_s"), col("max_s"), col("sum_l"))
      .orderBy(col("column"))
  }

  /** API-dump source round-trip (the q85-lifecycle pattern for the io
    * layer): the documents table is materialized as an on-disk paginated
    * JSON API dump ({"data": [...]} pages of ≤500 records), then read back
    * through the FULL ApiReader path — parallel page-number fetch across
    * executors, from_json with the explicit record schema, corrupt-record
    * policy — and aggregated per language. The oracle computes the same
    * aggregate straight off the documents table, so any record the source
    * drops, duplicates, or fails to parse (a corrupt page would surface as
    * a null-lang group) hash-mismatches.
    *
    * Scale shape: page bodies are BUILT distributed (groupBy page →
    * collect_list → to_json); only the ~N/500 page strings land on the
    * driver to become files — fixture scaffolding, not the operator under
    * test. The read side fans 4096 candidate pages across 8 partitions;
    * absent pages return None and cost one stat call. */
  def q362_api_ingest(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.{ApiReader, FileFetcher, Pagination}
    val docs = Tables.documents(spark, dir)
    val fixture = java.nio.file.Paths.get(graft.core.Scratch.dir("graft-api-dump"))
    val pages = docs.select(
        (col("doc_id") / lit(500)).cast("long").as("pg"),
        to_json(struct(col("doc_id").as("id"), col("lang"),
          col("n_chars").as("n"))).as("rec"))
      .groupBy(col("pg"))
      .agg(concat(lit("{\"data\":["),
        concat_ws(",", collect_list(col("rec"))), lit("]}")).as("body"))
    // distributed fixture write: executors write their own page files
    // (O(1) driver memory — a .collect() here would be O(table) on the
    // driver; on a real cluster the fixture dir is a shared filesystem)
    val fixturePath = fixture.toString
    pages.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      it.foreach { r =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(fixturePath, s"page-${r.getLong(0)}.json"),
          r.getString(1))
      }
    }
    val recSchema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("lang", "string").add("n", "long")
    ApiReader(
        Pagination.PageNumber(s"$fixture/page-{page}.json", maxPages = 4096),
        recSchema, recordsField = Some("data"), fetcher = FileFetcher(),
        parallelism = 8)
      .read(spark)
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n")).cast("long").as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Late-arriving-dimension ingest (the CDC pattern the reference's RI
    * check only detects, never resolves): orders and customers arrive in
    * interleaved waves, and an order whose customer hasn't landed yet
    * parks in an ORPHAN buffer that drains the moment its parent
    * arrives — semi-join admits, anti-join re-parks, so every order
    * lands in exactly one cohort exactly once no matter the arrival
    * order. Customers with c_custkey % 3 == 0 never arrive, so their
    * orders must still be orphans at the end; the oracle computes both
    * cohorts from the final membership rule, and any double-join (an
    * admitted order left in the buffer) or drop (an orphan lost while
    * re-parking) shifts the counts and revenue.
    *
    * Scale shape: each wave costs one semi + one anti join of
    * (orphans ∪ new orders) against the dimension accumulated so far —
    * delta-sized probe sides; the orphan buffer is bounded by the
    * unresolved backlog, the quantity a real pipeline must monitor
    * anyway (its size is this query's orphan row). */
  def q375_late_dims(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir).select(
      col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
      col("o_totalprice").cast("decimal(18,2)").as("rev"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey").as("ck"))
    val custWaves = Seq(cust.filter(col("ck") % 3 === 1),
      cust.filter(col("ck") % 3 === 2))
    val ordWaves = Seq(ord.filter(col("ok") % 2 === 0),
      ord.filter(col("ok") % 2 === 1))
    var custSoFar = cust.limit(0)
    var orphans = ord.limit(0)
    var joined = ord.limit(0)
    (0 until 2).foreach { i =>
      custSoFar = custSoFar.unionByName(custWaves(i))
      val pending = orphans.unionByName(ordWaves(i))
      joined = joined.unionByName(
        pending.join(custSoFar, Seq("ck"), "left_semi"))
      orphans = pending.join(custSoFar, Seq("ck"), "left_anti")
    }
    def cohort(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("long").as("n_orders"),
          sum(col("rev")).cast("double").as("revenue"))
        .select(lit(name).as("cohort"), col("n_orders"), col("revenue"))
    cohort("joined", joined).unionByName(cohort("orphan", orphans))
      .orderBy(col("cohort"))
  }

  /** Incremental TOP-K maintenance — the bounded-holistic member of the
    * IVM family (q365 sums, q369 joins, q370 min-with-repair): top-k per
    * key is a monoid under "union, then re-truncate" (top3(A∪B) =
    * top3(top3(A) ∪ top3(B)), exactly, for any total order), so a
    * leaderboard over a year of ingest folds batch-by-batch through the
    * heap TopKPerKey operator at O(|batch|) per batch with k×#keys state
    * — never a re-sort of history. The order is a total order (cents
    * desc, orderkey, linenumber), so ties cannot make the fold diverge
    * from the oracle's window recompute. Deletes would need q370-style
    * repair (no inverse); this is the insert-only path.
    *
    * Scale shape: per batch one TopKPerKey pass over the batch plus a
    * fold over 2k×#keys rows; the heap exec spills past
    * spark.graft.topk.spillThreshold, so degenerate key cardinality
    * cannot OOM it. */
  def q374_ivm_topk(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.TopKPerKey.topKPerKey
    val li = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("rf"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        .as("cents"),
      col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"))
    val keys = Seq(col("rf"))
    val order = Seq(col("cents").desc, col("ok").asc, col("ln").asc)
    def fold(state: DataFrame, batch: DataFrame): DataFrame =
      topKPerKey(state.unionByName(topKPerKey(batch, keys, order, 3)),
        keys, order, 3)
    val folded = (0 until 3)
      .map(b => li.filter(col("ok") % 3 === b))
      .foldLeft(li.limit(0))(fold)
    folded.orderBy(col("rf") +: order: _*)
  }

  /** Incremental MIN maintenance under deletes — the aggregate family
    * without an inverse, completing the IVM trio (q365 group sums, q369
    * join views): per-group price minima fold monoidally through two
    * insert waves, then a retraction wave deletes every cheap 'R'-flag
    * row, which HITS that group's stored minimum — so the maintainer
    * must take the repair path (re-aggregate only the affected group
    * from the post-delete base) while the untouched groups just
    * decrement counts. The oracle recomputes the view AND the
    * per-group recomputed flag (a group repairs iff its deleted set
    * contains its minimum), so both the values and the repair-path
    * decision are gated.
    *
    * Scale shape: insert waves are delta-sized aggregates; the repair
    * scan is a semi join pruned to affected groups — on a flag-
    * partitioned base that is partition pruning, not a table scan. */
  def q370_ivm_min(spark: SparkSession, dir: String): DataFrame = {
    import graft.transform.Ivm
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        .as("cents"),
      col("l_orderkey").as("ok"))
    val keys = Seq("l_returnflag")
    val deleted = col("l_returnflag") === "R" && col("cents") < 200000L
    val empty = li.limit(0).groupBy(keys.map(col): _*)
      .agg(min(col("cents")).as("min_v"),
        count(lit(1)).cast("long").as("n_rows"))
    val s1 = Ivm.minInsert(empty, li.filter(col("ok") % 2 === 0), keys, "cents")
    val s2 = Ivm.minInsert(s1, li.filter(col("ok") % 2 === 1), keys, "cents")
    Ivm.minRetract(s2, li.filter(deleted), li.filter(!deleted), keys, "cents")
      .select(col("l_returnflag"), col("n_rows"),
        col("min_v").as("min_cents"), col("recomputed"))
      .orderBy(col("l_returnflag"))
  }

  /** Two-sided incremental JOIN-view maintenance (the bilinear delta
    * rule, completing q365's unary case): revenue-by-priority over
    * orders ⋈ lineitem is maintained through a batch where only both-new
    * rows exist, a batch where BOTH sides grow (so the dR⋈dS cross term
    * must land exactly once), and a lineitem-only retraction wave —
    * multiplicities multiply through [[graft.transform.Ivm.zJoin]], so a
    * retraction cancels precisely the joined rows it created. The oracle
    * recomputes the view from the surviving rows; any double-counted
    * cross term or sign slip shifts every revenue cell.
    *
    * Scale shape: each batch costs dR ⋈ S_new plus R_old ⋈ dS — equi-
    * joins whose probe sides are delta-sized — plus a partial aggregate
    * to #priorities rows; the view itself is never recomputed and the
    * fold input is #batches × #groups metadata rows. */
  def q369_ivm_join(spark: SparkSession, dir: String): DataFrame = {
    import graft.transform.Ivm
    val state = graft.core.Scratch.dir("graft-ivm-join-state")
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("ok"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_quantity"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("rev"))
    val (r1, r2) = (ord.filter(col("ok") % 2 === 0), ord.filter(col("ok") % 2 === 1))
    val (s1, s2) = (li.filter(col("ok") % 3 === 0), li.filter(col("ok") % 3 =!= 0))
    def step(d: DataFrame): Unit = Ivm.append(
      Ivm.viewDelta(d, Seq("o_orderpriority"), Seq("revenue" -> col("rev"))),
      state)
    val empty = Ivm.inserts(ord.limit(0))
    step(Ivm.joinDelta(ord.limit(0), Ivm.inserts(r1), li.limit(0), Ivm.inserts(s1), Seq("ok")))
    step(Ivm.joinDelta(r1, Ivm.inserts(r2), s1, Ivm.inserts(s2), Seq("ok")))
    step(Ivm.joinDelta(ord, empty, li,
      Ivm.retracts(li.filter(col("l_quantity") >= 45)), Seq("ok")))
    Ivm.current(spark, state, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_rows"),
        col("revenue").cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** BPE tokenizer APPLY — closes the train→apply loop that q93 (merge
    * mining) and q344 (OOV curves) left open: mine the top-8 char-pair
    * merge rules from the corpus (occurrence-weighted, deterministic
    * count-desc/pair-asc ranks), then ENCODE every word by the greedy
    * BPE rule — repeatedly merge the lowest-rank, leftmost adjacent pair
    * until none applies. Because the mined rules are all (char,char) —
    * one BPE generation — merging never creates a new candidate pair, so
    * the iterative algorithm collapses to one pass over the word's
    * candidate pairs sorted by (rank, pos) with a consumed-position
    * bitmask: that fold runs as codegen'd higher-order functions
    * (transform/filter/aggregate), no UDF, no loop. The oracle replays
    * the textbook iterative form as a recursive CTE with a
    * lowest-rank-leftmost lateral pick, so the gate proves the two
    * formulations equal on every word — enc strings and all.
    *
    * Scale shape: encoding runs on the DISTINCT-WORD dictionary (≪
    * corpus — the dictionary-encode trick), one shuffle at dictionary
    * grain; mining is one combinable aggregate over dictionary char
    * pairs; the 8-rule table broadcasts. Nothing collects. */
  def q367_bpe_encode(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val words = tok.groupBy("w").agg(count(lit(1)).cast("long").as("n_occ"))
    val pairRows = words.filter(length(col("w")) >= 2)
      .select(col("w"), col("n_occ"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => struct(i.as("pos"),
            col("w").substr(i, lit(1)).as("l"),
            col("w").substr(i + lit(1), lit(1)).as("r")))).as("p"))
      .select(col("w"), col("n_occ"),
        col("p.pos").as("pos"), col("p.l").as("l"), col("p.r").as("r"))
    val merges = pairRows.groupBy("l", "r")
      .agg(sum(col("n_occ")).cast("long").as("c"))
      .orderBy(col("c").desc, col("l"), col("r")).limit(8)
      .withColumn("rank",
        (row_number().over(Window.orderBy(col("c").desc, col("l"), col("r")))
          - 1).cast("int")) // 8-row table: the single-partition window is free
    val cands = pairRows
      .join(broadcast(merges.select(col("l"), col("r"), col("rank"))),
        Seq("l", "r"))
      .groupBy("w")
      .agg(array_sort(collect_list(struct(col("rank"), col("pos"))))
        .as("cand"))
    words.join(cands, Seq("w"), "left")
      .withColumn("cand", coalesce(col("cand"),
        array().cast("array<struct<rank:int,pos:int>>")))
      // consumed-position fold: accept a pair iff both its positions are
      // free; bits pos and pos+1 mark consumption, starts marks the left
      .withColumn("st", expr(
        """aggregate(cand,
          |  named_struct('mask', CAST(0 AS BIGINT), 'starts', CAST(0 AS BIGINT)),
          |  (acc, c) -> IF((acc.mask & shiftleft(CAST(3 AS BIGINT), c.pos)) = 0,
          |    named_struct(
          |      'mask', acc.mask | shiftleft(CAST(3 AS BIGINT), c.pos),
          |      'starts', acc.starts | shiftleft(CAST(1 AS BIGINT), c.pos)),
          |    acc))""".stripMargin))
      .withColumn("syms", expr(
        """transform(
          |  filter(sequence(1, length(w)), i ->
          |    NOT ((shiftright(st.mask, i) & 1) = 1
          |      AND (shiftright(st.starts, i) & 1) = 0)),
          |  i -> IF((shiftright(st.starts, i) & 1) = 1,
          |    substr(w, i, 2), substr(w, i, 1)))""".stripMargin))
      .select(col("w"), col("n_occ"),
        size(col("syms")).cast("long").as("n_syms"),
        array_join(col("syms"), "|").as("enc"))
      .orderBy(col("w"))
  }

  /** Incremental view maintenance under DELETES (the group-aggregate
    * family [[graft.transform.Ivm]]): the revenue-by-nation gold view is
    * maintained from four signed change batches — three insert waves plus
    * a retraction wave that removes every o_orderkey % 5 == 0 order — and
    * the final fold must equal a full recompute over the surviving
    * orders, which is exactly what the oracle computes. Count and sum
    * have inverses, so fold(deltas) = recompute is an algebraic identity,
    * not an approximation; a fully-retracted group would vanish (the
    * n_rows=0 drop), and a sign error anywhere would hash-mismatch every
    * revenue cell.
    *
    * Scale shape: each batch costs one scan of the batch + broadcast
    * dimension joins + a partial aggregate to #nations rows; the fold
    * input is 4 x #nations metadata rows. The view's base table is never
    * re-scanned — the property that replaces a nightly full refresh of a
    * 100 TB fact table with O(|delta|) per-batch work. */
  def q365_ivm_gold(spark: SparkSession, dir: String): DataFrame = {
    import graft.transform.Ivm
    val state = graft.core.Scratch.dir("graft-ivm-state")
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    def delta(batch: DataFrame): DataFrame =
      Ivm.viewDelta(
        batch.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey")),
        Seq("n_name"),
        Seq("revenue" -> col("o_totalprice").cast("decimal(18,2)")))
    val orders = Tables.orders(spark, dir)
    (0 until 3).foreach(b => Ivm.append(
      delta(Ivm.inserts(orders.filter(col("o_orderkey") % 3 === b))), state))
    Ivm.append(
      delta(Ivm.retracts(orders.filter(col("o_orderkey") % 5 === 0))), state)
    Ivm.current(spark, state, Seq("n_name"))
      .select(col("n_name"), col("n_rows").as("n_orders"),
        // exact decimal fold, ONE deterministic cast to double at the edge
        // (the q01 sumMoney pattern — sum order can't perturb bits)
        col("revenue").cast("double").as("revenue"))
      .orderBy(col("n_name"))
  }

  /** REAL image decode, oracle-gated end-to-end: every document plants a
    * genuine PNG whose dimensions are pure arithmetic in doc_id
    * (w = 1 + id mod 13, h = 1 + id mod 7), executors ENCODE it with the
    * JDK PNG writer and DECODE it back with `ImageIO.read`
    * ([[graft.multimodal.MediaCodec.decodeImage]]), and the grouped output
    * must reproduce the planted arithmetic exactly — the gate fails unless
    * real codec work ran on both sides. Upgrades q33/q114's pseudo-decode
    * rows: those pin the column plumbing; this pins actual bytes→raster
    * decoding. Scale shape: encode+decode run in ONE partition-batched
    * narrow mapPartitions chain (codec init amortized per partition);
    * payload bytes never cross a shuffle — only the tiny (w, h, bands)
    * grain reaches the aggregate. */
  def q377_image_decode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val recs = ids.mapPartitions { it =>
      it.map { id =>
        Multimodal.MediaRecord(id,
          Multimodal.encodePng((1 + id % 13).toInt, (1 + id % 7).toInt, id),
          "image/png", "synth")
      }
    }
    graft.multimodal.MediaCodec.decodeImage(recs).toDF()
      .groupBy(col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"))
      .agg(count(lit(1)).cast("long").as("n_images"),
        sum(col("media_id")).cast("long").as("id_sum"))
      .orderBy(col("width"), col("height"))
  }

  /** Perceptual-hash IMAGE dedup — the eighth dedup modality, over real
    * decoded rasters. Every adjacent doc pair (2g, 2g+1) plants the SAME
    * seeded PNG, the odd twin with a 1-bit pixel perturbation
    * ([[graft.multimodal.Multimodal.encodePngPerturbed]]) — genuine
    * near-duplicate bytes. Executors decode with `ImageIO` and compute a
    * 64-bit dHash ([[graft.multimodal.MediaCodec.dHash]]); candidate pairs
    * come from a 4x16-bit band equi-join (the SimHash banding shape, never
    * all-pairs) and are verified on Hamming distance <= 6. The oracle
    * replays the ENTIRE chain — sampled pixels, integer grayscale,
    * comparison bits, band keys, Hamming — arithmetically from doc_id, so
    * the gate fails unless real encode→decode→hash work ran. Scale shape:
    * payload bytes never cross a shuffle (narrow mapPartitions chain);
    * only (media_id, dhash) is banded, and verification touches band
    * candidates only. */
  def q382_phash_dedup(spark: SparkSession, dir: String): DataFrame =
    phashPairs(spark, dir).orderBy(col("id_a"), col("id_b"))

  /** Shared by q382/q383/q386: the planted image-dedup fixture — every
    * adjacent doc pair (2g, 2g+1) plants the SAME seeded PNG, the odd
    * twin with a 1-bit pixel perturbation (genuine near-duplicate
    * bytes). */
  private[queries] def phashRecords(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val grp = id / 2
          Multimodal.MediaRecord(id,
            Multimodal.encodePngPerturbed((16 + grp % 17).toInt,
              (16 + grp % 13).toInt, grp, perturb = id % 2 == 1),
            "image/png", "synth")
        }
      }
  }

  /** Shared by q382/q383: planted-PNG decode → dHash →
    * [[graft.similarity.BandedHamming]] (4×16-bit bands, degenerate-
    * bucket cap, Hamming ≤ 6). On this corpus no bucket comes near the
    * cap, so it is pure scale armor, and the oracle replicates the cap
    * semantics exactly. */
  private val phashMaxBucket = 100

  private def phashPairs(spark: SparkSession, dir: String): DataFrame = {
    // pin the tiny (id, hash) frame: the banding plan consumes it from
    // several subtrees (bucket-count aggregate, both self-join sides) and
    // each unpinned reference would re-run the WHOLE encode→decode→hash
    // chain — the expensive stage decode-once semantics exist to avoid
    val hashes = graft.multimodal.MediaCodec
      .dHash(phashRecords(spark, dir)).toDF()
      .localCheckpoint(eager = false)
    graft.similarity.BandedHamming.nearDuplicatePairs(hashes,
      "media_id", "dhash", nBands = 4, bandBits = 16, maxHamming = 6,
      maxBucket = Some(phashMaxBucket))
  }

  /** Image duplicate CLUSTERS: q382's Hamming-verified perceptual-hash
    * pairs composed with the SAME distributed connected-components
    * operator the text modalities use ([[graft.transform.Dedup
    * .duplicateClusters]], min-label propagation over edge-touching nodes
    * only) — visually-near-duplicate images collapse to one representative
    * per component, the keep/drop view a training pipeline consumes.
    * Pairwise dedup under-deletes (a~b, b~c keeps a AND c); the cluster
    * closure is what actually bounds a near-dup family to one survivor.
    * The oracle recomputes the pairs arithmetically (the q382 replay) and
    * closes them with a recursive CTE (the q54 discipline). */
  def q383_phash_clusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = phashPairs(spark, dir).select(col("id_a"), col("id_b"))
    clusterView(Dedup.duplicateClusters(pairs, docs.select(col("doc_id")),
      "doc_id"))
  }

  /** Shared q393/q394 fixture: every adjacent doc pair (2g, 2g+1) plants
    * the SAME seeded multi-frame grayscale GIF clip (4–6 frames, 12–20 ×
    * 12–18 px), the odd twin perturbed in EXACTLY ONE frame (gray low
    * bit flipped where (x+y) is even) — a genuine temporal near-duplicate
    * whose bytes differ in one frame, the "re-encoded clip with a
    * retouched frame" shape. Pixel values use the q382 nonlinear
    * `u² mod p` mix (plus an `f·8191` frame term) so cross-seed frames
    * stay at the random-coincidence level; every intermediate fits a
    * signed 64-bit, so DuckDB replays the rasters exactly. */
  private[queries] def videoRecords(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val grp = id / 2
          val w = (12 + grp % 9).toInt
          val h = (12 + grp % 7).toInt
          val nf = (4 + grp % 3).toInt
          val pf = (grp % nf).toInt
          val perturb = id % 2 == 1
          Multimodal.MediaRecord(id,
            Multimodal.encodeGif(w, h, nf, (x, y, f) => {
              val u = (grp * 2654435761L + x * 31L + y * 131L +
                f * 8191L) % 16777213L
              val g = (((u * u) % 16777213L) % 256L).toInt
              if (perturb && f == pf && (x + y) % 2 == 0) g ^ 1 else g
            }), "image/gif", "synth")
        }
      }
  }

  private val videoMaxBucket = 100

  /** Shared q393/q394 pair stage: real GIF decode → per-frame dHash →
    * [[graft.similarity.BandedHamming.frameSequencePairs]] (per-frame
    * 4×16-bit bands keyed by frame index, degenerate-bucket cap, per-
    * frame Hamming ≤ 6, clips near-dup at ≥4/5 close aligned frames).
    * The hash frame is pinned for the same reason as q382's: the banding
    * plan consumes it from several subtrees and each unpinned reference
    * would re-run the whole encode→decode→hash chain. */
  private def videoPairs(spark: SparkSession, dir: String): DataFrame = {
    val frames = graft.multimodal.MediaCodec
      .frameHashes(videoRecords(spark, dir)).toDF()
      .localCheckpoint(eager = false)
    graft.similarity.BandedHamming.frameSequencePairs(frames,
      "media_id", "frame_idx", "dhash", nBands = 4, bandBits = 16,
      maxHamming = 6, minCloseNum = 4, minCloseDen = 5,
      maxBucket = Some(videoMaxBucket))
  }

  /** Frame-sequence (video-style) near-duplicate PAIRS — the tenth dedup
    * modality: the engine really encodes multi-frame GIFs, DECODES them
    * (ImageIO frame iterator), per-frame dHashes the rasters, and joins
    * clips on per-frame band keys; the oracle replays the whole planted
    * arithmetic (frame rasters → grayscale → per-frame dHash bits → band
    * keys → cap → aligned-frame Hamming → the 4/5-close integer
    * threshold), so equality proves real multi-frame codec + temporal
    * fingerprint work ran end-to-end. */
  def q393_video_neardup_pairs(spark: SparkSession, dir: String): DataFrame =
    videoPairs(spark, dir).orderBy(col("id_a"), col("id_b"))

  /** Video duplicate CLUSTERS: q393's temporally-verified pairs closed
    * with the SAME distributed connected-components operator every other
    * modality uses — near-duplicate clip families collapse to one
    * representative, the keep/drop view a training pipeline consumes.
    * Oracle: the q393 replay closed by a recursive CTE (q54 discipline). */
  def q394_video_clusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = videoPairs(spark, dir).select(col("id_a"), col("id_b"))
    clusterView(Dedup.duplicateClusters(pairs, docs.select(col("doc_id")),
      "doc_id"))
  }

  /** REAL audio decode, oracle-gated end-to-end — the audio twin of
    * [[q377_image_decode]]: every document plants a genuine WAV clip
    * (16-bit mono PCM, `n = 50 + id mod 97` samples at
    * `rate = 8000 + (id mod 5)·1000` Hz, sample values the nonlinear
    * [[graft.multimodal.Multimodal.plantedSample]] arithmetic), executors
    * ENCODE it with `javax.sound.sampled.AudioSystem.write` and DECODE it
    * back with `AudioSystem.getAudioInputStream`
    * ([[graft.multimodal.MediaCodec.decodeAudio]]), and the per-clip
    * integer features — |s| sum, s² energy, strict sign-flip zero
    * crossings — must reproduce the planted arithmetic exactly, so the
    * gate fails unless real container work ran on both sides. Scale
    * shape: encode+decode is ONE narrow partition-batched mapPartitions
    * chain; payload bytes never cross a shuffle — only the 6-column
    * integer feature grain is ever exchanged (for the final sort). */
  def q384_audio_decode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val recs = ids.mapPartitions { it =>
      it.map { id =>
        val n = (50 + id % 97).toInt
        val samples = Array.tabulate(n)(t =>
          Multimodal.plantedSample(id, t, perturb = false))
        Multimodal.MediaRecord(id,
          Multimodal.encodeWav((8000 + (id % 5) * 1000).toInt, samples),
          "audio/wav", "synth")
      }
    }
    graft.multimodal.MediaCodec.decodeAudio(recs).toDF()
      .select(col("media_id").as("doc_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples"), col("abs_sum"), col("sq_sum"),
        col("zero_crossings"))
      .orderBy(col("doc_id"))
  }

  /** Acoustic-fingerprint AUDIO dedup — the NINTH dedup modality, over
    * really-decoded WAV streams. Every adjacent doc pair (2g, 2g+1)
    * plants the SAME seeded clip, the odd twin with a +1 amplitude
    * perturbation on even samples — a genuine near-duplicate whose bytes
    * differ. Executors decode with `AudioSystem` and compute a 32-bit
    * energy-delta fingerprint
    * ([[graft.multimodal.MediaCodec.audioFingerprint]], the simplified
    * Chromaprint shape); candidates come from a 2x16-bit band equi-join
    * (never all-pairs, same degenerate-bucket cap as the image/text
    * banding) and are verified on Hamming distance <= 4. The oracle
    * replays the ENTIRE chain — planted samples, window energies,
    * comparison bits, band keys, Hamming — arithmetically from doc_id.
    * Scale shape: payload bytes never cross a shuffle; only
    * (media_id, fp) is banded, and verification touches band candidates
    * only. */
  /** Shared by q385/q387: the planted audio-dedup fixture — every
    * adjacent doc pair (2g, 2g+1) plants the SAME seeded WAV clip, the
    * odd twin with a +1 amplitude perturbation on even samples (genuine
    * near-duplicate bytes). */
  private def audioRecords(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val grp = id / 2
          val n = (64 + grp % 53).toInt
          val samples = Array.tabulate(n)(t =>
            Multimodal.plantedSample(grp, t, perturb = id % 2 == 1))
          Multimodal.MediaRecord(id, Multimodal.encodeWav(8000, samples),
            "audio/wav", "synth")
        }
      }
  }

  def q385_audio_fp_dedup(spark: SparkSession, dir: String): DataFrame = {
    // pinned for the same decode-once reason as phashPairs
    val prints = graft.multimodal.MediaCodec
      .audioFingerprint(audioRecords(spark, dir)).toDF()
      .localCheckpoint(eager = false)
    graft.similarity.BandedHamming.nearDuplicatePairs(prints,
        "media_id", "fp", nBands = 2, bandBits = 16, maxHamming = 4,
        maxBucket = Some(phashMaxBucket))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SEMANTIC image clusters FROM PIXELS — multimodal similarity search
    * end-to-end on real media bytes: executors decode the planted PNGs
    * (the q382 fixture) with `ImageIO`, embed each raster as a 4×4
    * mean-centered integer-luma vector
    * ([[graft.multimodal.MediaCodec.imageEmbedding]] — exact integer
    * arithmetic, so the oracle replays it from the planted pixel
    * function), and the EXISTING SemDeDup stack does the rest: LSH-
    * bucketed cosine pairs ([[graft.similarity.LshAnn.pairsAbove]], never
    * all-pairs, degenerate buckets capped) closed into connected
    * components by the whale-safe large-star/small-star operator — the
    * q82 shape with embeddings that came from actual decoded rasters
    * instead of a parquet column. Near-dup twins sit above cosine 0.999
    * while unrelated rasters top out near 0.93 (measured at sf0.1), so
    * the 0.95 threshold recovers the planted families with margin on
    * both sides. The float path is bit-exact across engines because
    * every embedding value is an exact integer in float64 and both
    * engines fold dot products strictly left-to-right. Scale shape:
    * payload bytes never cross a shuffle (narrow decode→embed chain);
    * only 16-dim vectors are banded and joined. */
  def q386_image_semantic_clusters(spark: SparkSession,
                                   dir: String): DataFrame = {
    // pinned: the LSH plan consumes the embeddings from three subtrees
    // (band explode + both vector re-joins) — unpinned, each reference
    // re-runs the whole encode->decode->embed chain
    val emb = graft.multimodal.MediaCodec
      .imageEmbedding(phashRecords(spark, dir)).toDF()
      // zero vectors (a perfectly flat raster) have no direction — drop
      // them before the cosine stage in BOTH engines (armor: the planted
      // corpus never produces one)
      .filter(CosineKnn.dot(col("embedding"), col("embedding")) > 0)
      .localCheckpoint(eager = false)
    val pairs = LshAnn.pairsAbove(emb, "media_id", "embedding",
        threshold = 0.95, nTables = 4, nBits = 12, dim = 16,
        maxBucket = Some(200))
      .select(col("id_a"), col("id_b"))
    val docs = Tables.documents(spark, dir)
    clusterView(Dedup.duplicateClustersBigStar(pairs,
      docs.select(col("doc_id")), "doc_id"))
  }

  /** SEMANTIC audio clusters FROM SAMPLES — the audio twin of [[q386]]:
    * executors decode the planted WAV clips (the q385 fixture) with the
    * JDK audio codec, embed each as a mean-centered 33-window energy
    * vector ([[graft.multimodal.MediaCodec.audioEmbedding]] — exact
    * integer arithmetic the oracle replays), and the existing SemDeDup
    * stack clusters them: LSH-bucketed cosine pairs → whale-safe CC.
    * Near-dup twins sit above cosine 0.9999 while unrelated clips top
    * out near 0.972 at sf0.1 (centering removes the window-count
    * pattern correlation that pushed RAW energy cosines to 0.996 —
    * see [[graft.multimodal.MediaCodec.audioEmbedding]]), so the 0.985
    * threshold recovers the planted families with margin. Scale shape:
    * payload bytes never cross a shuffle; only 33-dim vectors are
    * banded and joined. */
  def q387_audio_semantic_clusters(spark: SparkSession,
                                   dir: String): DataFrame = {
    // pinned for the same decode-once reason as q386
    val emb = graft.multimodal.MediaCodec
      .audioEmbedding(audioRecords(spark, dir)).toDF()
      .filter(CosineKnn.dot(col("embedding"), col("embedding")) > 0)
      .localCheckpoint(eager = false)
    val pairs = LshAnn.pairsAbove(emb, "media_id", "embedding",
        threshold = 0.985, nTables = 4, nBits = 12, dim = 33,
        maxBucket = Some(200))
      .select(col("id_a"), col("id_b"))
    val docs = Tables.documents(spark, dir)
    clusterView(Dedup.duplicateClustersBigStar(pairs,
      docs.select(col("doc_id")), "doc_id"))
  }

  /** Unigram-LM tokenizer training — ONE EM round of the SentencePiece
    * unigram model (Kudo 2018), the likelihood-based counterpart of the
    * greedy BPE pair (q93 mines merges, q367 applies them): seed a piece
    * vocabulary from substring masses, E-step = Viterbi-segment every
    * word under NLL piece costs, M-step = re-estimate piece masses from
    * the winning segmentations, report the top-30 pieces by EM mass.
    *
    * Determinism discipline: piece costs are `round(ln(total)−ln(mass),
    * 9)` DECIMAL(20,9) — exact-integer `ln` inputs plus 9-decimal
    * rounding absorb any libm last-ulp split (the q363 NB rule) — and
    * the Viterbi DP folds those DECIMALs exactly, breaking cost ties by
    * the lexicographically smallest segmentation string, so the winning
    * path is a pure function of the masses in BOTH engines. The oracle
    * replays the DP as a recursive CTE with a lateral min-per-step (the
    * q367 shape) — proving the HOF fold equals the textbook recurrence
    * on every word, segmentation strings and all.
    *
    * Scale shape: the corpus collapses to the distinct-word dictionary
    * in one combinable aggregate (the q93/q367 dictionary-encode trick);
    * everything after — substring masses, the ≤64+Σ-piece vocab, the
    * per-word DP (≤16 positions × ≤4 transitions, inside whole-stage
    * codegen), the M-step — lives on dictionary or vocab grain. The
    * vocab attaches to DP edges by an equi-join on the piece string; no
    * window over corpus rows, nothing collects. */
  def q388_unigram_em(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.UnigramLm
    // corpus → dictionary → seed vocab → Viterbi E-step (all the heavy
    // machinery lives in graft.text.UnigramLm — q389 applies the same
    // trainer across a train/held-out split)
    val words = UnigramLm.dictionary(Tables.documents(spark, dir))
    val vocab = UnigramLm.seedVocab(words)
    val dp = UnigramLm.viterbi(words, vocab)
    // M-step: piece masses under the winning segmentations
    val em = dp
      .select(col("freq"), explode(split(col("seg"), "\\|")).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).cast("long").as("em_mass"),
        count(lit(1)).cast("long").as("n_words"))
    val emTot = em.agg(sum(col("em_mass")).as("t1")) // 1-row
    em.join(vocab.select(col("piece"), col("seed_mass")), Seq("piece"))
      .crossJoin(broadcast(emTot))
      .select(col("piece"), col("seed_mass"), col("em_mass"),
        col("n_words"),
        round(expr("ln(CAST(t1 AS DOUBLE)) - ln(CAST(em_mass AS DOUBLE))"),
          6).as("nll"))
      .orderBy(col("em_mass").desc, col("piece")).limit(30)
  }

  /** Tokenizer fertility audit — the q388 trainer applied across a
    * train/held-out split (the q56/q363 [[graft.functions.StableHash]]
    * split discipline, buckets <800 train): the vocab and NLL costs come
    * from TRAIN documents only, held-out words Viterbi-segment under
    * them, and the report is per-language fertility (pieces emitted per
    * corpus token) plus the unknown-piece exposure — the
    * tokenizer-fairness measurement multilingual-pipeline audits run
    * before committing to a vocab. Held-out characters the train split
    * never saw enter the vocab as mass-1 unk pieces (cost = round(ln
    * (total), 9)), so every held-out word still segments and the unk
    * count is exact rather than a dropped-row artifact.
    *
    * Scale shape: identical to q388 (dictionary grain throughout) plus
    * one (lang, word) aggregate — language count is bounded, so the
    * final report is a handful of rows; the unk char table is a bounded
    * anti-join on the piece string. */
  def q389_unigram_fertility(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.UnigramLm
    import graft.functions.StableHash
    val docs = Tables.documents(spark, dir)
      .withColumn("bucket", StableHash.bucket(col("doc_id"), 1000))
    val trainWords = UnigramLm.dictionary(docs.filter(col("bucket") < 800))
    val vocab = UnigramLm.seedVocab(trainWords)
    // held-out (lang, w) frequencies; the DP runs once per distinct word
    val heldLang = docs.filter(col("bucket") >= 800)
      .select(col("lang"),
        explode(TextOps.tokens(TextOps.normalize(col("text")))).as("w"))
      .filter(length(col("w")).between(1, UnigramLm.MaxWordLen))
      .groupBy("lang", "w").agg(count(lit(1)).cast("long").as("freq"))
      .localCheckpoint(eager = false)
    val heldWords = heldLang.groupBy("w")
      .agg(sum(col("freq")).cast("long").as("freq"))
    // unseen held-out chars → mass-1 unk pieces (bounded: one row per
    // novel character, anti-joined on the piece string)
    val tot = vocab.agg(sum(col("seed_mass")).as("t")) // 1-row
    val unk = heldWords
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substr(w, i, 1))"))
        .as("piece")).distinct()
      .join(vocab.select(col("piece")), Seq("piece"), "left_anti")
      .crossJoin(broadcast(tot))
      .select(col("piece"), UnigramLm.nllCost(col("t"), lit(1L)).as("cost"),
        lit(true).as("is_unk"))
    // NOT pinned: both consumers (DP edges, unk flags) sit above the
    // already-pinned train vocab, and re-running the tiny anti-join +
    // union is cheaper than materializing another vocab-grain frame
    val fullVocab = vocab.select(col("piece"), col("cost"),
        lit(false).as("is_unk"))
      .unionByName(unk)
    val dp = UnigramLm.viterbi(heldWords,
      fullVocab.select(col("piece"), col("cost")))
    // per-word piece/unk counts, then the bounded per-lang rollup
    val perWord = dp
      .select(col("w"), explode(split(col("seg"), "\\|")).as("piece"))
      .join(fullVocab.select(col("piece"), col("is_unk")), Seq("piece"))
      .groupBy("w").agg(count(lit(1)).cast("long").as("n_pieces_w"),
        sum(when(col("is_unk"), 1L).otherwise(0L)).as("n_unk_w"))
    heldLang.join(perWord, Seq("w"))
      .groupBy("lang").agg(
        sum(col("freq")).cast("long").as("n_tokens"),
        sum(col("freq") * col("n_pieces_w")).cast("long").as("n_pieces"),
        sum(col("freq") * col("n_unk_w")).cast("long").as("n_unk_pieces"))
      .withColumn("fertility", round(col("n_pieces").cast("double") /
        col("n_tokens").cast("double"), 6))
      .orderBy(col("lang"))
  }

  /** Unigram-LM EM CONVERGENCE — q388's single E/M step closed into the
    * full training loop (3 rounds of Viterbi hard-EM with loss-based
    * vocab pruning, the SentencePiece schedule): round 1 segments under
    * the seed costs, round 2 under the round-1 M-step's renormalized
    * masses (unused pieces dropped, alphabet floored at mass 1 — see
    * [[graft.text.UnigramLm.mStep]]), round 3 under a vocab with the 16
    * lowest-mass multi-char pieces pruned and the rest renormalized.
    * One row per round: vocab size, words segmented, exact-DECIMAL
    * corpus NLL (Σ freq × best-path cost, rounded once at the end), how
    * many pieces the round's vocab pruned, and the MONOTONE gate —
    * `monotone_ok` is asserted for round 2 only (a pure EM step is
    * provably non-increasing; round 3 crosses a prune, which
    * legitimately trades likelihood for vocab size, so its flag is
    * NULL by design, not a hedge). The oracle replays all three DP
    * rounds as chained recursive CTEs.
    *
    * Scale shape: identical to q388 — every stage is dictionary or
    * vocab grain after the one corpus aggregate; the per-round reports
    * are single-row aggregates and the 3-row window is constant. */
  def q395_unigram_em_rounds(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.UnigramLm
    import org.apache.spark.sql.expressions.Window
    val words = UnigramLm.dictionary(Tables.documents(spark, dir))
    val v1 = UnigramLm.seedVocab(words)
      .select(col("piece"), col("seed_mass").as("em_mass"), col("cost"))
    val dp1 = UnigramLm.viterbi(words, v1).localCheckpoint(eager = false)
    val v2 = UnigramLm.mStep(dp1, v1)
    val dp2 = UnigramLm.viterbi(words, v2).localCheckpoint(eager = false)
    val v3raw = UnigramLm.mStep(dp2, v2)
    val v3 = UnigramLm.prune(v3raw, 16)
    val dp3 = UnigramLm.viterbi(words, v3)
    // freq ≤ corpus tokens fits DECIMAL(10,0); the product stays within
    // DECIMAL(31,9) in Spark and DECIMAL(30,9) in DuckDB — both exact,
    // so the single round(…, 6) at the end lands on the same double
    def roundRow(r: Int, vocab: DataFrame, dp: DataFrame,
                 prunedFrom: Option[DataFrame]): DataFrame = {
      val pruned = prunedFrom match {
        case Some(raw) => // actual drop count (≤ k at tiny vocab sizes)
          raw.agg(count(lit(1)).as("__n0"))
            .crossJoin(vocab.agg(count(lit(1)).as("__n1")))
            .select((col("__n0") - col("__n1")).cast("long").as("n_pruned"))
        case None => spark.range(1).select(lit(0L).as("n_pruned"))
      }
      dp.agg(count(lit(1)).cast("long").as("words_segmented"),
          round(sum(col("freq").cast("decimal(10,0)") * col("cost")), 6)
            .cast("double").as("corpus_nll"))
        .crossJoin(vocab.agg(count(lit(1)).cast("long").as("vocab_size")))
        .crossJoin(pruned)
        .select(lit(r.toLong).as("round"), col("vocab_size"),
          col("n_pruned"), col("words_segmented"), col("corpus_nll"))
    }
    val rows = roundRow(1, v1, dp1, None)
      .unionByName(roundRow(2, v2, dp2, None))
      .unionByName(roundRow(3, v3, dp3, Some(v3raw)))
    rows // 3 rows: the unpartitioned lag window is constant-size
      .withColumn("prev_nll",
        lag(col("corpus_nll"), 1).over(Window.orderBy(col("round"))))
      .withColumn("monotone_ok",
        when(col("round") === 2, col("corpus_nll") <= col("prev_nll")))
      .select(col("round"), col("vocab_size"), col("n_pruned"),
        col("words_segmented"), col("corpus_nll"), col("monotone_ok"))
      .orderBy(col("round"))
  }

  /** Shared q396 fixture: every adjacent doc pair (2g, 2g+1) plants the
    * SAME seeded multi-frame clip, the odd twin with the FIRST FRAME
    * TRIMMED (its stored frame f replays the original frame f+1) and one
    * surviving frame retouched (gray low bit flipped where (x+y) is even
    * at original frame pf ∈ [1, nf−1]) — the "re-encoded clip with the
    * head trimmed" shape, the commonest real-world video near-dup, which
    * exact-index alignment (q393) misses entirely. Same nonlinear
    * `u² mod p` pixel mix as [[videoRecords]] so DuckDB replays the
    * rasters exactly and cross-seed frames stay at coincidence level. */
  private[queries] def trimmedVideoRecords(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val grp = id / 2
          val w = (12 + grp % 9).toInt
          val h = (12 + grp % 7).toInt
          val nf = (4 + grp % 3).toInt
          val trim = (id % 2).toInt
          val pf = (1 + grp % (nf - 1)).toInt // original-frame index ≥ 1
          Multimodal.MediaRecord(id,
            Multimodal.encodeGif(w, h, nf - trim, (x, y, f) => {
              val o = f + trim // original frame this stored frame replays
              val u = (grp * 2654435761L + x * 31L + y * 131L +
                o * 8191L) % 16777213L
              val g = (((u * u) % 16777213L) % 256L).toInt
              if (trim == 1 && o == pf && (x + y) % 2 == 0) g ^ 1 else g
            }), "image/gif", "synth")
        }
      }
  }

  /** OFFSET-TOLERANT video dedup — q393's temporal modality extended to
    * trimmed/shifted clips ([[graft.similarity.BandedHamming
    * .frameSequencePairsShifted]]): candidates from a (band, bkey)
    * equi-join that deliberately drops the frame index from the key (a
    * head-trimmed twin shares every unchanged band at index−1, which the
    * exact-alignment join can never see), bounded to |Δ| ≤ 2, verified by
    * the best passing alignment (per-(pair, Δ) aligned-frame Hamming, the
    * 4/5-close integer threshold against `greatest(na,nb) − |Δ|`). The
    * oracle replays the whole planted arithmetic — trimmed rasters, the
    * retouch, per-frame dHash, band keys, cap, shift-windowed candidates,
    * per-shift verify, arg-max — so equality proves the shift machinery
    * end-to-end; a spec separately pins the maxShift=0 case equal to
    * q393's operator. */
  private def videoShiftedPairs(spark: SparkSession, dir: String): DataFrame = {
    val frames = graft.multimodal.MediaCodec
      .frameHashes(trimmedVideoRecords(spark, dir)).toDF()
      .localCheckpoint(eager = false)
    graft.similarity.BandedHamming.frameSequencePairsShifted(frames,
      "media_id", "frame_idx", "dhash", nBands = 4, bandBits = 16,
      maxHamming = 6, minCloseNum = 4, minCloseDen = 5, maxShift = 2,
      maxBucket = Some(videoMaxBucket))
  }

  def q396_video_shifted_pairs(spark: SparkSession, dir: String): DataFrame =
    videoShiftedPairs(spark, dir).orderBy(col("id_a"), col("id_b"))

  /** Shifted-video duplicate CLUSTERS — q396's offset-tolerant pairs
    * closed with the SAME distributed connected-components operator every
    * other modality uses (the q394 discipline): trimmed/re-cut clip
    * families collapse to one representative. Oracle: the q396 trimmed
    * replay's passing (pair, Δ) set closed by a recursive CTE. */
  def q398_video_shifted_clusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = videoShiftedPairs(spark, dir).select(col("id_a"), col("id_b"))
    clusterView(Dedup.duplicateClusters(pairs, docs.select(col("doc_id")),
      "doc_id"))
  }

  /** Shared q400/q401 fixture: every adjacent doc pair (2g, 2g+1) plants
    * the SAME seeded WAV clip, the odd twin with the FIRST 66-sample
    * WINDOW TRIMMED (its stored window w replays the original window
    * w+1) and a +1 amplitude perturbation on the even samples of one
    * surviving original window pw ∈ [1, nW−1] — the "re-encoded clip
    * with the head trimmed" shape, the audio analogue of
    * [[trimmedVideoRecords]], which q385's whole-clip fingerprint (and
    * any exact-index window alignment) structurally misses. Same
    * nonlinear [[graft.multimodal.Multimodal.plantedSample]] arithmetic,
    * indexed by ORIGINAL sample position, so DuckDB replays the samples
    * exactly and cross-seed clips stay at coincidence level. */
  private[queries] def trimmedAudioRecords(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val grp = id / 2
          val nW = (4 + grp % 3).toInt
          val trim = (id % 2).toInt
          val pw = (1 + grp % (nW - 1)).toInt // original-window index ≥ 1
          val samples = Array.tabulate((nW - trim) * 66) { t =>
            val o = t + trim * 66 // original sample index this one replays
            Multimodal.plantedSample(grp, o,
              perturb = trim == 1 && o / 66 == pw)
          }
          Multimodal.MediaRecord(id, Multimodal.encodeWav(8000, samples),
            "audio/wav", "synth")
        }
      }
  }

  /** Shared q400/q401 pair stage: real WAV decode → per-window acoustic
    * codes ([[graft.multimodal.MediaCodec.audioWindowCodes]], 66-sample
    * fixed windows) → the SAME modality-agnostic shift-tolerant engine
    * the video path uses ([[graft.similarity.BandedHamming
    * .frameSequencePairsShifted]]): candidates from a (band, bkey)
    * equi-join with the window index deliberately off the key, |Δ| ≤ 2
    * as a join residual, per-(pair, Δ) aligned-window Hamming ≤ 4,
    * the 4/5-close integer threshold against greatest(na, nb) − |Δ|,
    * best alignment by combinable max(struct). */
  private def audioShiftedPairs(spark: SparkSession, dir: String): DataFrame = {
    // pinned for the same decode-once reason as videoPairs
    val codes = graft.multimodal.MediaCodec
      .audioWindowCodes(trimmedAudioRecords(spark, dir), windowSamples = 66)
      .toDF()
      .localCheckpoint(eager = false)
    graft.similarity.BandedHamming.frameSequencePairsShifted(codes,
      "media_id", "window_idx", "code", nBands = 4, bandBits = 8,
      maxHamming = 4, minCloseNum = 4, minCloseDen = 5, maxShift = 2,
      maxBucket = Some(100))
  }

  /** SHIFT-TOLERANT audio dedup PAIRS — closes the trimmed/padded-clip
    * gap for the acoustic modality exactly as q396 closed it for video
    * (r11 verdict task 4): the head-trimmed twin shares every unchanged
    * window code at index−1, recovered at shift Δ=−1; the oracle replays
    * the ENTIRE chain — planted samples at original positions, per-window
    * sub-block energies, comparison bits, band keys, cap, shift-windowed
    * candidates, per-shift verify, arg-max — so equality proves real
    * codec + temporal fingerprint + alignment work ran end-to-end. */
  def q400_audio_shifted_pairs(spark: SparkSession, dir: String): DataFrame =
    audioShiftedPairs(spark, dir).orderBy(col("id_a"), col("id_b"))

  /** Shifted-audio duplicate CLUSTERS — q400's offset-tolerant pairs
    * closed with the SAME distributed connected-components operator every
    * other modality uses (the q394/q398 discipline). Oracle: the q400
    * replay's passing (pair, Δ) set closed by a recursive CTE. */
  def q401_audio_shifted_clusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = audioShiftedPairs(spark, dir).select(col("id_a"), col("id_b"))
    // large-star/small-star, not min-label propagation: the sf0.1 shifted
    // -audio pair graph chains coincidence matches into components whose
    // DIAMETER exceeds label propagation's round budget (found in this
    // round's first full sweep — the operator threw "did not converge in
    // 10 iterations"); star contraction converges in O(log² n) rounds on
    // any topology and yields the IDENTICAL min-id-per-component labels.
    clusterView(Dedup.duplicateClustersBigStar(pairs,
      docs.select(col("doc_id")), "doc_id"))
  }

  /** Unigram-LM ENCODE (serving) — the piece the trainer chain (q388 one
    * step, q395 full EM schedule) stops short of: train the q395 3-round
    * vocab on the <800-bucket split (seed → EM → EM + bottom-16 prune),
    * FREEZE it, and tokenize the held-out documents under it
    * ([[graft.text.UnigramLm.encode]] — per-distinct-word Viterbi, q389
    * unk discipline for never-seen characters, per-document reassembly in
    * token order). One row per held-out document: token/piece/unk counts,
    * the exact-DECIMAL corpus NLL contribution, and the piece string
    * itself. The oracle replays all three training DP rounds AND the
    * held-out encode DP as chained recursive CTEs — segmentation strings
    * and all.
    *
    * Scale shape: identical to q395 for training (dictionary/vocab grain
    * after one corpus aggregate); the encode side adds one (doc, pos,
    * word) token stream joined per-word and one per-document aggregate —
    * the same grain the raw text already occupies. */
  def q397_unigram_encode(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.UnigramLm
    import graft.functions.StableHash
    val docs = Tables.documents(spark, dir)
      .withColumn("bucket", StableHash.bucket(col("doc_id"), 1000))
    val trainWords = UnigramLm.dictionary(docs.filter(col("bucket") < 800))
    val v1 = UnigramLm.seedVocab(trainWords)
      .select(col("piece"), col("seed_mass").as("em_mass"), col("cost"))
    val dp1 = UnigramLm.viterbi(trainWords, v1).localCheckpoint(eager = false)
    val v2 = UnigramLm.mStep(dp1, v1)
    val dp2 = UnigramLm.viterbi(trainWords, v2).localCheckpoint(eager = false)
    val v3 = UnigramLm.prune(UnigramLm.mStep(dp2, v2), 16)
    UnigramLm.encode(docs.filter(col("bucket") >= 800), "doc_id", "text", v3)
      .orderBy(col("doc_id"))
  }

  /** Tokenize-to-ids + sequence-pack MATERIALIZATION — the final
    * tensor-prep join of the tokenizer family (q93/q367 BPE, q388-q397
    * unigram) and the packing family (q59): train a seed unigram vocab on
    * the <800-bucket split, FREEZE it, tokenize the held-out documents to
    * piece IDS ([[graft.text.UnigramLm.encodeIds]] — id = rank over
    * (is_unk, piece), a pure function of the vocab), concatenate the
    * held-out corpus in doc_id order, and chop it into 4096-token context
    * windows: one (seq_id, position, token_id) row per emitted piece —
    * the exact artifact a pretraining loader reads.
    *
    * Scale shape: the Viterbi DP is dictionary-grain (q397's argument);
    * the concatenation offsets come from [[graft.transform.PrefixSum]]'s
    * two-pass distributed prefix sum over per-DOC piece counts — never an
    * unpartitioned window over pieces (the only unpartitioned window is
    * the |V|-row vocab id rank, WindowSweepSpec-audited); within-doc
    * piece order is a per-doc window bounded by the doc's own length. The
    * oracle replays seed vocab, held-out DP, id ranks, prefix offsets and
    * the chop arithmetic row-for-row. */
  def q402_token_ids_packed(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.UnigramLm
    import graft.functions.StableHash
    val C = 4096
    val docs = Tables.documents(spark, dir)
      .withColumn("bucket", StableHash.bucket(col("doc_id"), 1000))
    val trainWords = UnigramLm.dictionary(docs.filter(col("bucket") < 800))
    val v1 = UnigramLm.seedVocab(trainWords)
      .select(col("piece"), col("seed_mass").as("em_mass"), col("cost"))
    // NOT checkpointed: the heavy subtrees (token stream, per-word DP)
    // are already pinned inside UnigramLm, so the two consumers below
    // only re-run cheap joins — and the plan stays VISIBLE to
    // WindowSweepSpec, which audits the vocab-rank window's bound
    val pieces = UnigramLm.encodeIds(docs.filter(col("bucket") >= 800),
      "doc_id", "text", v1)
    val perDoc = pieces.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_pieces"))
    val offs = graft.transform.PrefixSum
      .groupedRunningSum(perDoc, Nil, "doc_id", "n_pieces", "cum")
      .select(col("doc_id"), (col("cum") - col("n_pieces")).as("doc_off"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("pos"), col("pidx"))
    pieces
      .withColumn("doc_pidx", row_number().over(wDoc).cast("long") - 1)
      .join(offs, "doc_id")
      .withColumn("gpos", col("doc_off") + col("doc_pidx"))
      .select(floor(col("gpos").cast("double") / C).cast("long").as("seq_id"),
        (col("gpos") % C).cast("long").as("position"),
        col("token_id"))
      .orderBy(col("seq_id"), col("position"))
  }

  /** ORC round-trip — the one lakehouse format beyond parquet whose jars
    * ship with Spark itself, so unlike the Delta/Iceberg/Kafka contracts
    * (spec-tested, jars absent in this sandbox) the ORC path is
    * oracle-gated END TO END: [[graft.lakehouse.OrcSink]] writes a
    * returnflag-partitioned slice, [[graft.io.FileReader]] reads it back
    * with an explicit registry-style schema (never inferred — the
    * reference design tenet), and the q01-shape aggregate must match
    * DuckDB reading the ORIGINAL parquet — proving the format conversion
    * lost nothing: values, partition-column round-trip, DECIMAL math.
    *
    * Scale shape: the write is partitioned + columnar; the read-back
    * scan gets the quantity predicate PUSHED into the ORC reader
    * (PlanSpec pins PushedFilters) and prunes to the selected columns;
    * the aggregate is one combinable pass. At 100 TB this is the
    * bronze-tier format-migration job: one scan each way, no shuffle
    * beyond the ≤8-group rollup. */
  /** Persistent ANN SERVING-INDEX lifecycle — q85's shared
    * [[graft.similarity.BucketedIndex]] lifecycle for embedding search
    * ([[graft.similarity.AnnIndex]]): the corpus is hyperplane-banded ONCE
    * into bucketed tables, then two successive "serve batches" round-trip
    * it — query batch 1 top-3 against the stored bands → APPEND batch 1 →
    * query batch 2 (which must now also see batch-1 vectors as corpus).
    * The indexed corpus is never re-banded or re-read from the source
    * column; each batch costs O(batch) shuffle (BucketedIndexPlanSpec
    * pins no corpus-side Exchange). The bucket cap spans the combined (index + batch) sides
    * per stage, and the oracle replays both stages exactly — the same
    * inlined hyperplane literals, cap scopes, left-to-right float64
    * cosine, and (cosine desc, id) rank tie-break, so rank AND cosine
    * hash-match bit-for-bit. */
  def q399_ann_index_lifecycle(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.AnnIndex
    val emb = Tables.embeddings(spark, dir)
    val m10 = col("vec_id") % 10
    val path = graft.core.Scratch.dir("graft-ann-index")
    AnnIndex.build(emb.filter(m10 =!= 0 && m10 =!= 5), "vec_id", "embedding",
      path)
    // materialize batch-1 matches BEFORE the append mutates the index dirs
    // (a lazy scan could re-list files and see batch-1 vectors as corpus)
    val m1 = AnnIndex.queryBatch(spark, path, emb.filter(m10 === 0),
      "vec_id", "embedding", k = 3, maxBucket = Some(200))
      .localCheckpoint(true)
    AnnIndex.append(emb.filter(m10 === 0), "vec_id", "embedding", path)
    val m2 = AnnIndex.queryBatch(spark, path, emb.filter(m10 === 5),
      "vec_id", "embedding", k = 3, maxBucket = Some(200))
    m1.withColumn("batch", lit(1L))
      .unionByName(m2.withColumn("batch", lit(2L)))
      .orderBy(col("batch"), col("query_id"), col("rank"))
  }

  def q390_orc_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.types._
    import graft.lakehouse.{LakehouseTable, OrcSink}
    import graft.core.MedallionLayer
    val tmp = graft.core.Scratch.dir("graft-orc-roundtrip")
    OrcSink().write(
      Tables.lineitem(spark, dir).select(col("l_returnflag"),
        col("l_linestatus"), col("l_quantity"), col("l_extendedprice")),
      LakehouseTable(tmp, MedallionLayer.Bronze,
        partitions = Seq("l_returnflag")),
      SaveMode.Overwrite)
    val schema = StructType(Seq(
      StructField("l_linestatus", StringType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_returnflag", StringType))) // partition col last
    graft.io.FileReader("orc", tmp, schema = Some(schema)).read(spark)
      .filter(col("l_quantity") >= 25.0) // pushed into the ORC scan
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
}
