package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.text.TextOps
import graft.similarity.CosineKnn

/** Corpus-statistics and data-selection operators (round-5 wave): the
  * term-weighting / quality-rule / tokenizer-mining passes a training-data
  * pipeline runs between dedup and sampling. All combinable aggregates —
  * no windows over unbounded groups, no driver-side loops.
  */
object CorpusQueries {

  /** Per-source top-5 terms by TF-IDF (tf x ln(N_sources/df)) — the
    * source-characterization pass behind corpus exploration UIs and
    * per-domain keyword extraction. Scale shape: (source, token) counts
    * are combinable; document frequency is a second combinable agg over
    * the FIRST agg's (already per-source-distinct) output; N_sources is a
    * one-row cross join; and the per-source top-5 goes through the heap
    * [[graft.plans.TopKPerKey]] operator, never a window sort over each
    * source's full vocabulary. Scores round to 6 decimals on both engines
    * (libm ln parity) and the heap ORDERS BY the rounded score, so a
    * last-ulp ln difference cannot reorder the cut. */
  def q86_tfidf_terms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val stc = docs
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val dfc = stc.groupBy(col("tok"))
      .agg(count(lit(1)).cast("double").as("df"))
    val ns = docs.agg(count_distinct(col("source")).cast("double").as("ns"))
    val scored = stc.join(dfc, "tok").crossJoin(ns)
      .select(col("source"), col("tok"), col("tf"),
        round(col("tf").cast("double") * log(col("ns") / col("df")), 6).as("score"))
    val top = graft.plans.TopKPerKey.topKPerKey(scored,
      keys = Seq(col("source")),
      order = Seq(col("score").desc, col("tok").asc), k = 5)
    // rank recovery from the bounded (<=5/source) survivors — the q53
    // sorted-posexplode spelling; (-score, tok) asc == (score desc, tok asc)
    top.groupBy(col("source"))
      .agg(sort_array(collect_list(
        struct((-col("score")).as("negs"), col("tok"), col("tf")))).as("arr"))
      .select(col("source"), posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("source"), col("s.tok").as("tok"), col("s.tf").as("tf"),
        (-col("s.negs")).as("score"),
        (col("pos") + 1).cast("bigint").as("rank"))
      .orderBy(col("source"), col("rank"))
  }

  /** Per-document token Shannon entropy — the information-density signal
    * that separates natural text (high) from boilerplate/spam (low), used
    * alongside q51's repetition ratio. Identity H = ln(n) - (1/n)*sum(c*ln c);
    * the numerator is the PER-ROW [[graft.functions.EntropyTermSum]] kernel
    * (terms quantized exactly as Spark's double→DECIMAL(27,12) cast, summed
    * in exact decimal arithmetic — order-independent, so it equals the old
    * explode → groupBy aggregate bit-for-bit), making the whole query a
    * narrow compiled map: no token ever rides a shuffle. Final entropy
    * rounds to 6 decimals (libm ln parity on both engines). */
  def q87_doc_entropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        size(TextOps.distinctTokens(col("text"))).cast("long").as("n_distinct"),
        graft.functions.EntropyTermSum.entropyTermSum(TextOps.tokens(col("text")))
          .as("s"))
      .select(col("doc_id"), col("n_tok"), col("n_distinct"),
        round(log(col("n_tok").cast("double")) -
          col("s").cast("double") / col("n_tok").cast("double"), 6).as("entropy"))
      .orderBy(col("doc_id"))

  /** Gopher-style quality-rule bundle (Rae et al. 2021 §A1.1, thresholds
    * fit to this corpus): per-language counts of documents passing each
    * rule and all rules — token-count band, mean-word-length band, minimum
    * stopword density, repetition cap. Every rule is INTEGER-ONLY
    * arithmetic (ratios are cross-multiplied, never divided), so the
    * booleans are bit-portable across engines with no rounding discipline
    * needed. The only non-per-row input is the modal-token count (the q60
    * two-stage (doc, token) aggregate); everything else folds in one scan. */
  def q92_gopher_rules(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // every rule input is PER-ROW COMPILED — the modal-token count comes
    // from the ModalCount kernel, so the whole rule evaluation is one
    // narrow map over the scan and the only exchange is the per-lang
    // combine. Single-space corpus: total token chars = len - (n_tok - 1);
    // the mean-word-length band [4.3, 4.7] cross-multiplies to stay integral
    docs.select(col("lang"),
        length(col("text")).cast("long").as("len"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        TextOps.vocabHits(col("text"), Seq("the", "a", "of", "and")).as("n_stop"),
        graft.functions.ModalCount.modalCount(TextOps.tokens(col("text")))
          .as("top_n"))
      .select(col("lang"),
        col("n_tok").between(25, 90).as("p_len"),
        ((col("len") - col("n_tok") + 1) * 10 >= col("n_tok") * 43 &&
          (col("len") - col("n_tok") + 1) * 10 <= col("n_tok") * 47).as("p_wordlen"),
        (col("n_stop") * 100 >= col("n_tok") * 3).as("p_stop"),
        (col("top_n") * 8 < col("n_tok")).as("p_rep"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("p_len"), 1L).otherwise(0L)).cast("long").as("n_pass_len"),
        sum(when(col("p_wordlen"), 1L).otherwise(0L)).cast("long").as("n_pass_wordlen"),
        sum(when(col("p_stop"), 1L).otherwise(0L)).cast("long").as("n_pass_stop"),
        sum(when(col("p_rep"), 1L).otherwise(0L)).cast("long").as("n_pass_rep"),
        sum(when(col("p_len") && col("p_wordlen") && col("p_stop") && col("p_rep"),
          1L).otherwise(0L)).cast("long").as("n_pass_all"))
      .orderBy(col("lang"))
  }

  /** Containment near-dup pairs — the SIXTH dedup-metric modality (after
    * MinHash-Jaccard q27, SimHash q28, n-gram Jaccard q29, embedding cosine
    * q32, winnowing q74): candidates from SHARED WINNOWING FINGERPRINTS
    * (position-local, so a doc embedded in a larger host still collides —
    * jaccard-tuned LSH bands would miss exactly those), verified on
    * `|A∩B| / min(|A|,|B|)`, the asymmetric overlap that scores a perfect
    * subset 1.0 where Jaccard scores it near zero (quotes, template hosts,
    * page-in-site). See [[graft.similarity.Containment.containmentPairs]]
    * for the scale shape (fingerprint frequency cap before the self-join,
    * shingle sets shipped only for candidates). */
  def q88_containment_dedup(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.Containment.containmentPairs(
        Tables.documents(spark, dir), "doc_id", "text",
        shingleN = 3, gramLen = 8, winnowWindow = 4, fpFreqCap = 50,
        minShared = 10, threshold = 0.7)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact substring-duplication rate (the doc-level view of Lee et al.
    * 2022's "Deduplicating Training Data Makes Language Models Better"
    * exact-substring pass, at 8-token gram granularity): per document, the
    * fraction of its distinct 8-grams that occur in at least one OTHER
    * document — memorization-risk mass, the signal substring dedup
    * thresholds on. Grams travel as md5 hashes (the shuffle carries
    * (hash, id), never gram text); gram document-frequency is one
    * combinable aggregate joined back by hash. Docs shorter than 8 tokens
    * have no grams and drop out on both engines identically. */
  def q91_substring_dup(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.shingles(col("text"), 8)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
    val freq = grams.groupBy(col("gh")).agg(count(lit(1)).as("nd"))
    grams.join(freq, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup_grams"))
      .withColumn("dup_frac",
        col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Paragraph-level dedup at fixed 32-token chunk granularity (the CCNet
    * paragraph-hash pass, chunked because this corpus has no line
    * structure): every chunk hash is OWNED by the smallest doc_id that
    * contains it; a document keeps only the chunks it owns, so repeated
    * boilerplate survives exactly once corpus-wide while unique content is
    * untouched. Output per doc: chunk instances, distinct chunks, kept
    * chunks, and surviving token mass. Chunks leave the scan as md5 hashes
    * — every shuffle carries (hash, id, small ints); ownership is a
    * combinable min aggregate joined back on the hash. */
  def q94_chunk_dedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), floor((size(col("tk")) - 1) / lit(32)).cast("int")),
        i => slice(col("tk"), i * 32 + 1, lit(32)))).as("ctk"))
      .select(col("doc_id"), md5(array_join(col("ctk"), " ")).as("ch"),
        size(col("ctk")).cast("long").as("ctok"))
    val perDoc = chunks.groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("n_inst"), max(col("ctok")).as("ctok"))
    val owner = chunks.groupBy(col("ch")).agg(min(col("doc_id")).as("owner"))
    perDoc.join(owner, "ch")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_inst")).cast("long").as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
          .cast("long").as("n_kept_chunks"),
        sum(when(col("owner") === col("doc_id"), col("ctok")).otherwise(0L))
          .cast("long").as("kept_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Distributed spherical k-means over the embedding corpus
    * ([[graft.similarity.KMeansCosine]]: first-k-ids init, 2 Lloyd rounds,
    * cosine assignment) — per-cluster size, mean within-cluster cosine,
    * and a centroid fingerprint. The DuckDB oracle replays BOTH Lloyd
    * iterations stage by stage (assignment QUALIFY, DECIMAL component
    * sums, list rebuild, re-normalization), so every arithmetic step of
    * the distributed implementation is pinned, not just the final shape. */
  def q89_kmeans_clusters(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.KMeansCosine
    val emb = Tables.embeddings(spark, dir)
    val vh = KMeansCosine.normalized(emb, "vec_id", "embedding")
    val cent = KMeansCosine.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    KMeansCosine.assign(vh, "vec_id", cent)
      .join(broadcast(cent.select(col("j").as("cluster"),
        element_at(col("c"), 1).as("c1"))), "cluster")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        round(sum(col("cos").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_cos"),
        round(max(col("c1")), 6).as("centroid_c1"))
      .orderBy(col("cluster"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much more likely its hashed-unigram features are under a TARGET
    * distribution (here the `lang = 'en'` slice) than under the raw
    * corpus — sum over tokens of the add-1-smoothed bucket log-likelihood
    * ratio. Tokens collapse to 256 md5-derived buckets at the scan
    * ([[graft.functions.StableHash]] — engine-portable, so the oracle
    * re-derives identical features); both distributions come from ONE
    * combinable (bucket, count, target-count) aggregate; the 256-row
    * ratio table broadcasts back. Per-doc sums fold through
    * DECIMAL(27,12) and round to 6 (libm ln parity). */
  def q90_dsir_weights(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val nB = 256
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        StableHash.bucket(col("tok"), nB).as("b"))
    val counts = tok.groupBy(col("b")).agg(
      count(lit(1)).as("c_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
    val totals = counts.agg(sum(col("c_r")).cast("double").as("R"),
      sum(col("c_t")).cast("double").as("T"))
    val llr = broadcast(counts.crossJoin(totals).select(col("b"),
      (log((col("c_t") + 1).cast("double") / (col("T") + lit(nB.toDouble))) -
        log((col("c_r") + 1).cast("double") / (col("R") + lit(nB.toDouble))))
        .as("llr")))
    tok.join(llr, "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).cast("long").as("n_tok"),
        round(sum(col("llr").cast("decimal(27,12)")).cast("double"), 6)
          .as("weight"))
      .withColumn("selected", col("weight") > 0)
      .orderBy(col("doc_id"))
  }

  /** CAPSTONE: materialize the training corpus — the full selection
    * funnel a pipeline runs before tokenization, composed from the gated
    * operators: deterministic split (q56) → exact-dedup representative
    * (q23/q60's id-only aggregate) → Gopher quality rules (q92) →
    * test-set 5-gram decontamination (q70, bloom-pre-pruned). Per
    * language: train volume, survivors after each successive gate, and
    * the final token mass. Every stage is a combinable aggregate or an
    * id-only join — text never rides a shuffle; integer-only output. */
  def q95_train_materialize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val docs = Tables.documents(spark, dir)
      .withColumn("split", StableHash.split(col("doc_id"),
        Seq(800 -> "train", 900 -> "val"), "test"))
    val train = docs.filter(col("split") === "train")
    // dedup representative within train: min doc_id per content hash,
    // (hash, id) shuffle only
    val rep = train.select(md5(col("text")).as("__h"), col("doc_id"))
      .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("__rep"))
    // modal-token count for the repetition rule: per-row ModalCount kernel
    // contaminated: train docs sharing any distinct 5-gram with the test
    // split (q70 shape: grams as md5, bloom pre-prune before the join)
    def grams(d: DataFrame) = d
      .select(col("doc_id"), explode(TextOps.shingles(col("text"), 5)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
    val testGrams = grams(docs.filter(col("split") === "test"))
      .select(col("gh")).distinct()
    import graft.functions.BloomMightContainLong
    val bloom = BloomMightContainLong.buildOverHashes(
      testGrams, col("gh"), expectedItems = testGrams.count())
    val contaminated = grams(train)
      .filter(BloomMightContainLong.mightContain(xxhash64(col("gh")), bloom))
      .join(testGrams, "gh")
      .select(col("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("__dirty"))
    train
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("len"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        TextOps.vocabHits(col("text"), Seq("the", "a", "of", "and")).as("n_stop"),
        graft.functions.ModalCount.modalCount(TextOps.tokens(col("text")))
          .as("top_n"))
      .join(rep, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("lang"), col("n_tok"),
        coalesce(col("__rep"), lit(false)).as("is_rep"),
        (col("n_tok").between(25, 90) &&
          (col("len") - col("n_tok") + 1) * 10 >= col("n_tok") * 43 &&
          (col("len") - col("n_tok") + 1) * 10 <= col("n_tok") * 47 &&
          col("n_stop") * 100 >= col("n_tok") * 3 &&
          col("top_n") * 8 < col("n_tok")).as("quality"),
        (!coalesce(col("__dirty"), lit(false))).as("clean"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("is_rep"), 1L).otherwise(0L)).cast("long").as("n_dedup"),
        sum(when(col("is_rep") && col("quality"), 1L).otherwise(0L))
          .cast("long").as("n_quality"),
        sum(when(col("is_rep") && col("quality") && col("clean"), 1L).otherwise(0L))
          .cast("long").as("n_final"),
        sum(when(col("is_rep") && col("quality") && col("clean"), col("n_tok"))
          .otherwise(0L)).cast("long").as("tokens_final"))
      .orderBy(col("lang"))
  }

  /** Corpus drift report — the dataset-monitoring pass between two crawl
    * snapshots (stand-ins: even/odd doc_id): per language, volume in each
    * snapshot and the add-1-smoothed KL divergence of the hashed-unigram
    * distribution (the q90 feature space) from snapshot A to B. A bucket
    * unseen in both snapshots contributes exactly 0, so the groupBy's
    * natural support is complete. One combinable (lang, bucket) aggregate
    * with conditional counts, per-lang totals broadcast back, DECIMAL term
    * sums, 6-decimal round (libm ln parity). */
  def q96_corpus_drift(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val nB = 256
    val tok = Tables.documents(spark, dir)
      .select(col("lang"), (col("doc_id") % 2 === 0).as("in_a"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("lang"), col("in_a"), StableHash.bucket(col("tok"), nB).as("b"))
    val counts = tok.groupBy(col("lang"), col("b")).agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("c_a"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("c_b"))
    val totals = counts.groupBy(col("lang")).agg(
      sum(col("c_a")).cast("double").as("ta"),
      sum(col("c_b")).cast("double").as("tb"))
    val terms = counts.join(broadcast(totals), "lang")
      .select(col("lang"), col("c_a"), col("c_b"),
        (((col("c_a") + 1).cast("double") / (col("ta") + lit(nB.toDouble))) *
          log(((col("c_a") + 1).cast("double") / (col("ta") + lit(nB.toDouble))) /
            ((col("c_b") + 1).cast("double") / (col("tb") + lit(nB.toDouble)))))
          .as("term"))
    terms.groupBy(col("lang"))
      .agg(sum(col("c_a")).cast("long").as("tokens_a"),
        sum(col("c_b")).cast("long").as("tokens_b"),
        round(sum(col("term").cast("decimal(27,12)")).cast("double"), 6)
          .as("kl_ab"))
      .orderBy(col("lang"))
  }

  /** Source-overlap provenance matrix — WHICH sources copy from each
    * other: the q27 near-dup pairs mapped to their (source, source) cell,
    * pair order canonicalized lexicographically. The cross-source cells
    * are syndication/mirroring; the diagonal is within-source
    * duplication. Pair list is near-dup-sized (tiny vs corpus); two
    * id-only joins + one combinable count. */
  def q97_source_overlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_lo"), col("source_hi"))
  }

  /** Embedding outlier report — the data-map cleaning pass: vectors far
    * from their semantic region are mislabels/noise candidates. Assign
    * every vector to its q89 k-means cluster, take the exact per-cluster
    * 10th percentile of assignment cosine (bounded: one interpolated value
    * per cluster; `approx_percentile` is the sketch path at 100 TB), and
    * count vectors strictly below it. The oracle replays the full k-means
    * plus the percentile, so the whole chain stays pinned. */
  def q98_embed_outliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.KMeansCosine
    val emb = Tables.embeddings(spark, dir)
    val cent = KMeansCosine.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val asg = KMeansCosine.assign(
      KMeansCosine.normalized(emb, "vec_id", "embedding"), "vec_id", cent)
    val p10 = asg.groupBy(col("cluster"))
      .agg(expr("percentile(cos, 0.1)").as("p10"))
    asg.join(broadcast(p10), "cluster")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        sum(when(col("cos") < col("p10"), 1L).otherwise(0L)).cast("long")
          .as("n_outliers"),
        round(max(col("p10")), 6).as("p10_cos"))
      .orderBy(col("cluster"))
  }

  /** Cluster-aware train/val/test split — the FIX for the leakage q58
    * audits: split on the near-dup CLUSTER id instead of the document id,
    * so a whole duplicate family lands in one split and no near-dup pair
    * can straddle the boundary. Emits per-(lang, split) counts plus the
    * pair-leakage count, which is zero BY CONSTRUCTION (the oracle pins
    * it). Same CC machinery as q54; the split is the engine-portable
    * StableHash of the cluster representative. */
  def q99_cluster_split(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val docs = Tables.documents(spark, dir)
    // the pair list feeds BOTH the CC and the leakage audit — materialize
    // it once (near-dup-sized, tiny vs corpus) so the minhash pipeline
    // doesn't run twice
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val assigned = graft.transform.Dedup
      .duplicateClusters(pairs, docs.select(col("doc_id")), "doc_id")
      .withColumn("split", StableHash.split(col("cluster_id"),
        Seq(800 -> "train", 900 -> "val"), "test"))
    val leaky = pairs
      .join(assigned.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(assigned.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .agg(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).cast("long")
        .as("n_leaky"))
    assigned.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(leaky)
      .orderBy(col("lang"), col("split"))
  }

  /** Hard-negative mining for contrastive embedding training: for each
    * query vector, the top-3 most-cosine-similar vectors with a DIFFERENT
    * label — near the decision boundary, the negatives that actually teach.
    * Query batch broadcasts (small by construction), corpus streams once,
    * and the per-query top-3 runs through the heap
    * [[graft.plans.TopKPerKey]] operator (state #queries x 3), not a
    * window sort over every candidate row. */
  def q100_hard_negatives(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("label"),
        CosineKnn.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(CosineKnn.dot(col("v"), col("v"))))
    val queries = broadcast(base.filter(col("id") < 20)
      .select(col("id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qn")))
    val pairs = queries.join(base, col("label") =!= col("qlabel"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (CosineKnn.dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
    graft.plans.TopKPerKey.topKPerKey(pairs, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id").asc), k = 3)
      .orderBy(col("query_id"), col("cos").desc, col("neighbor_id"))
  }

  /** Weighted sampling WITHOUT replacement, exactly k, deterministic —
    * Efraimidis-Spirakis exponential keys: draw u from the engine-portable
    * [[graft.functions.StableHash]] uniform (never `rand()`), key =
    * -ln(u)/w with w = token mass, keep the k smallest keys GLOBALLY via
    * TakeOrdered (never a full sort). The token-budget subsampler: heavy
    * documents are proportionally more likely, every engine/rerun/
    * partitioning draws the same sample. One narrow map + one top-k. */
  def q101_weighted_sample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val m = 1000000
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        ((StableHash.bucket(col("doc_id"), m) + 1).cast("double") /
          lit((m + 1).toDouble)).as("u"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        (-log(col("u")) / col("n_tok").cast("double")).as("key"))
    docs.orderBy(col("key"), col("doc_id")).limit(100)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        round(col("key"), 9).as("draw_key"))
  }

  /** MinHash sketch-accuracy gate (the q84/q49 pattern applied to the
    * dedup sketch itself): on the q27 near-dup pairs, the signature
    * estimate of Jaccard (fraction of agreeing slots out of 64) must
    * track the exact shingle Jaccard — mean absolute error pinned by the
    * oracle. Completes the sketch-evidence set: HLL + approx-percentile
    * (q61), IVF recall (q49), SimHash (q84), and now the MinHash
    * signature. Every arithmetic step is exact (slot-agreement counts,
    * integer-ratio jaccard, DECIMAL error sums), so the gate
    * hash-matches rather than eyeballs. */
  def q102_minhash_estimate(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.MinHashLsh
    val docs = Tables.documents(spark, dir)
    val sigs = docs.select(col("doc_id"),
      MinHashLsh.signature(TextOps.shingles(col("text"), 3), 64).as("sig"))
    val pairs = MinHashLsh.nearDuplicatePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("jaccard"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) =>
          when(a === b, lit(1)).otherwise(lit(0))), x => x === 1))
          .cast("double") / 64.0).as("est"))
    pairs.agg(
        count(lit(1)).cast("long").as("n_pairs"),
        round(sum(abs(col("est") - col("jaccard")).cast("decimal(27,12)"))
          .cast("double") / count(lit(1)).cast("double"), 6).as("mean_abs_err"))
      .withColumn("est_ok", col("mean_abs_err") <= 0.12)
  }

  /** BPE merge-candidate mining — the first iteration of byte-pair-encoding
    * tokenizer training at corpus scale: adjacent character-pair frequencies
    * over the VOCABULARY (distinct tokens weighted by corpus count), top-20
    * merge candidates. The vocabulary aggregate collapses the corpus before
    * any character work happens (pair explosion runs over distinct tokens,
    * not every token occurrence), pairs come from the compiled
    * [[graft.functions.CharNgrams]] expression (distinct per token, matching
    * BPE's type-count formulation), counts are combinable, and the top-20 is
    * a TakeOrdered — never a global sort. */
  def q93_bpe_merges(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .filter(length(col("w")) >= 2)
      .select(col("c"),
        explode(graft.functions.CharNgrams.charNgrams(col("w"), 2)).as("pair"))
      .groupBy(col("pair")).agg(sum(col("c")).cast("long").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  /** Sequence-packing audit — the concat-and-chunk packing GPT-style
    * pretraining applies (documents concatenated in a deterministic shard
    * order, the stream cut every `budget` tokens): per language, how many
    * training sequences the corpus yields, the padding paid on each
    * shard's final partial sequence, and how many documents a chunk
    * boundary cuts in half (the cross-document-attention contamination
    * the packing papers measure). Scale shape: the running token total
    * per (lang, [[graft.functions.StableHash]] shard) stratum is the
    * range-partitioned [[graft.transform.PrefixSum]] — the 40 strata are
    * each a corpus-sized slice, so no window may own one; per-shard stats
    * fold through one combinable aggregate. Integer token arithmetic
    * end-to-end; the only division is the final fill ratio. */
  def q103_seq_pack(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val budget = 512L
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        StableHash.bucket(col("doc_id"), 8).as("shard"))
    // running token totals per (lang, shard) — 40 fixed strata, each a
    // corpus-sized slice, so the scan is PrefixSum's range-partitioned
    // two-pass, never a window that owns a whole stratum
    val packed = graft.transform.PrefixSum.groupedRunningAggs(docs,
        Seq("lang", "shard"), Seq(col("doc_id")), Seq("n_tok" -> "cum"))
      .select(col("lang"), col("shard"), col("n_tok"),
        (floor((col("cum") - col("n_tok")).cast("double") / budget.toDouble) =!=
          floor((col("cum") - 1).cast("double") / budget.toDouble)).as("straddles"))
    val perShard = packed.groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("t"),
        sum(when(col("straddles"), 1L).otherwise(0L)).as("str"))
      .withColumn("nseq",
        floor((col("t") + (budget - 1)).cast("double") / budget.toDouble).cast("long"))
    perShard.groupBy(col("lang")).agg(
        sum(col("nd")).cast("long").as("n_docs"),
        sum(col("t")).cast("long").as("total_tokens"),
        sum(col("nseq")).cast("long").as("n_sequences"),
        sum(col("str")).cast("long").as("n_straddle_docs"),
        (sum(col("nseq")) * budget - sum(col("t"))).cast("long").as("padding_tokens"))
      .withColumn("fill_pct", round(col("total_tokens").cast("double") /
        (col("n_sequences").cast("double") * budget.toDouble), 6))
      .orderBy(col("lang"))
  }

  /** Distributed covariance of the embedding space — the moment pass under
    * PCA / whitening / drift-on-embeddings. All corpus work is ONE scan
    * folding into d·(d+1)/2 + d combinable DECIMAL sums (see
    * [[graft.similarity.Pca.covariance]] for the shuffle bound); the d³
    * eigen step happens on the driver over this query's 2 080-row output
    * and is gated separately in SimilaritySpec (power-iteration residual),
    * since an eigensolver is not SQL-expressible. */
  def q104_covariance(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.Pca.covariance(
        Tables.embeddings(spark, dir), "embedding")
      .orderBy(col("i"), col("j"))

  /** Johnson–Lindenstrauss projection-quality gate: project the 64-dim
    * embeddings onto 16 fixed random directions (the same inlined-constant
    * hyperplane family the LSH operators use, so Catalyst constant-folds
    * the matrix once per plan) and pin how well scaled projected Euclidean
    * distances track the originals over all query pairs — the evidence
    * that downstream ANN / clustering may run in the cheap space. The
    * corpus side never joins: projections are a narrow per-row map; only
    * the (bounded) query set pairs up, small side broadcast. Completes the
    * sketch-accuracy set (HLL q61, IVF q49, SimHash q84, MinHash q102)
    * for the one remaining sketch family, random projection. */
  def q105_jl_distortion(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.LshAnn
    val k = 16
    val planes = LshAnn.hyperplanes(64, k, seed = 7L)
    val base = Tables.embeddings(spark, dir).filter(col("vec_id") < 40)
      .select(col("vec_id"), CosineKnn.toDouble(col("embedding")).as("v"))
      .withColumn("p", array(planes.map(pl =>
        CosineKnn.dot(col("v"), array(pl.map(lit): _*))): _*))
    val a = broadcast(base.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("p").as("pa")))
    val b = base.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("p").as("pb"))
    val ratios = a.join(b, col("id_a") < col("id_b"))
      .select(
        (CosineKnn.dot(col("va"), col("va")) + CosineKnn.dot(col("vb"), col("vb"))
          - lit(2.0) * CosineKnn.dot(col("va"), col("vb"))).as("d2"),
        aggregate(zip_with(col("pa"), col("pb"), (x, y) => (x - y) * (x - y)),
          lit(0.0), _ + _).as("dp2"))
      .filter(col("d2") > 0)
      .select((sqrt(col("dp2") / k.toDouble) / sqrt(col("d2"))).as("ratio"))
    ratios.agg(
        count(lit(1)).cast("long").as("n_pairs"),
        round(sum(col("ratio").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_ratio"),
        round(min(col("ratio")), 6).as("min_ratio"),
        round(max(col("ratio")), 6).as("max_ratio"))
      .withColumn("jl_ok",
        col("mean_ratio").between(0.8, 1.2) && col("min_ratio") > 0.4 &&
          col("max_ratio") < 1.8)
  }

  /** Exact stratified quota sampling — the eval-set builder: every
    * (lang, source) stratum contributes EXACTLY ceil(n/10) documents,
    * chosen by the engine-portable [[graft.functions.StableHash]] order so
    * the sample is a pure function of the keys (reruns, repartitions, and
    * other engines draw the identical rows — `rand()` never appears).
    * Contrast with q75 (expected-rate mixture) and q101 (global weighted):
    * this is the guaranteed-count-per-cell variant quota evaluation sets
    * need. Per-stratum positions come from the range-partitioned
    * [[graft.transform.PrefixSum.rowNumber]] (a stratum is corpus/|strata|
    * rows — unbounded), quotas from one combinable count aggregate
    * broadcast back, and the output pins n_sampled = quota per cell as
    * the exactness evidence. */
  def q106_stratified_sample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        StableHash.bucket(col("doc_id"), 1000000).as("ord"))
    val quotas = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_stratum"))
      .select(col("lang"), col("source"), col("n_stratum"),
        ceil(col("n_stratum").cast("double") / 10.0).cast("long").as("quota"))
    // per-stratum position via PrefixSum.rowNumber: a (lang, source)
    // stratum is corpus/|strata| rows — unbounded — so the rank must be
    // the range-partitioned scan, never one window task per stratum
    graft.transform.PrefixSum.rowNumber(docs, Seq("lang", "source"),
        Seq(col("ord"), col("doc_id")), "rn")
      .join(broadcast(quotas), Seq("lang", "source"))
      .filter(col("rn") <= col("quota"))
      .groupBy(col("lang"), col("source"))
      .agg(max(col("n_stratum")).cast("long").as("n_stratum"),
        max(col("quota")).cast("long").as("quota"),
        count(lit(1)).cast("long").as("n_sampled"),
        sum(col("n_tok")).cast("long").as("tok_sampled"))
      .orderBy(col("lang"), col("source"))
  }

  /** Curriculum mixture annealing — the epoch-indexed source-weight
    * schedule behind multi-phase pretraining: epoch 0 samples sources at
    * their natural token share, the final epoch uniformly, intermediate
    * epochs at the geometric interpolation p^(1−α)·u^α (α = t/T), each
    * epoch renormalized. Extends the static q75 mixture with the time
    * axis. Corpus cost is ONE per-source token aggregate; the schedule
    * math runs over |sources|×|epochs| rows (broadcast-sized at any
    * corpus scale). */
  def q107_curriculum(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), TextOps.tokenCount(col("text")).as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).cast("double").as("t"))
    val tot = per.agg(sum(col("t")).as("tt"),
      count(lit(1)).cast("double").as("s"))
    val epochs = spark.range(0, 5).select(col("id").as("epoch"),
      (col("id").cast("double") / 4.0).as("alpha"))
    val raw = per.crossJoin(broadcast(tot)).crossJoin(broadcast(epochs))
      .select(col("epoch"), col("source"),
        (pow(col("t") / col("tt"), lit(1.0) - col("alpha")) *
          pow(lit(1.0) / col("s"), col("alpha"))).as("raw"))
    val z = raw.groupBy(col("epoch"))
      .agg(sum(col("raw").cast("decimal(27,12)")).cast("double").as("z"))
    raw.join(broadcast(z), "epoch")
      .select(col("epoch"), col("source"),
        round(col("raw") / col("z"), 6).as("weight"))
      .orderBy(col("epoch"), col("source"))
  }

  /** Count-min-sketch accuracy gate — the streaming-style frequency sketch
    * (Cormode & Muthukrishnan) rebuilt as a Spark aggregate and pinned
    * against exact counts: depth 4 × width 256 counters from the
    * engine-portable [[graft.functions.StableHash]] family, estimate =
    * min over rows, checked on the exact top-20 tokens. The CMS build's
    * aggregation state is 1 024 counters regardless of vocabulary size —
    * the whole point of the sketch at 100 TB, where the exact vocabulary
    * aggregate (run here only to source the gate's ground truth) is the
    * thing you're avoiding. Output pins est ≥ exact (the CMS one-sided
    * guarantee) per token. Extends the sketch-evidence set (q49 IVF,
    * q61 HLL, q84 SimHash, q102 MinHash, q105 JL) with the counting
    * sketch. */
  def q108_cms_estimate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMinSketch
    val toks = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    val cms = CountMinSketch.counters(toks, "tok")
    val top = toks.groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("exact"))
      .orderBy(col("exact").desc, col("tok")).limit(20)
    top.join(CountMinSketch.estimate(top.select(col("tok")), "tok", cms), "tok")
      .select(col("tok"), col("exact"), col("est"),
        (col("est") - col("exact")).cast("long").as("overestimate"),
        (col("est") >= col("exact")).as("cms_ok"))
      .orderBy(col("exact").desc, col("tok"))
  }

  /** Quality-score propagation over the near-duplicate graph — the
    * semi-supervised smoothing pass (label propagation on scores): each
    * round, a document's score moves halfway toward its neighbors' mean;
    * documents with no near-dups keep their own score. Catches the
    * quality-laundering failure where one scrubbed copy of a template
    * scores high while its dozens of near-identical siblings score low —
    * after two rounds the family agrees. Seed score is the distinct-token
    * ratio (per-row map); edges are the q27 LSH pairs (bucketed,
    * skew-capped — never all-pairs); each round is one neighbor aggregate
    * (DECIMAL sums, order-independent) plus a broadcast-scale left join.
    * The oracle replays both rounds as CTEs over the shared MinHash
    * pair chain. */
  def q109_quality_prop(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val s0 = docs.select(col("doc_id"),
      (size(array_distinct(TextOps.tokens(col("text")))).cast("double") /
        size(TextOps.tokens(col("text"))).cast("double")).as("s"))
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    def propagate(s: DataFrame): DataFrame = {
      val nb = edges
        .join(s.select(col("doc_id").as("v"), col("s").as("sv")), "v")
        .groupBy(col("u"))
        .agg((sum(col("sv").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double")).as("av"))
      s.join(nb.select(col("u").as("doc_id"), col("av")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("av").isNull, col("s"))
            .otherwise(lit(0.5) * col("s") + lit(0.5) * col("av")).as("s"))
    }
    val s2 = propagate(propagate(s0))
    s0.select(col("doc_id"), round(col("s"), 6).as("quality0"))
      .join(s2.select(col("doc_id"), round(col("s"), 6).as("quality2")), "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Vocabulary-growth (Heaps' law) curve — new type count per corpus
    * decile, the tokenizer-coverage / crawl-saturation monitor: a
    * flattening curve says more data stops buying vocabulary. Corpus
    * position comes from doc_id deciles; the only vocabulary-sized work
    * is ONE (token → min decile) combinable aggregate (tokens never
    * shuffle as text twice); the cumulative sum runs over the 10-row
    * aggregate output, where a single-partition window is exactly
    * right. */
  def q110_vocab_growth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nmax = docs.agg((max(col("doc_id")) + 1).cast("double").as("nd"))
    val toks = docs.crossJoin(broadcast(nmax))
      .select(floor(col("doc_id").cast("double") * 10.0 / col("nd"))
          .cast("long").as("decile"),
        explode(TextOps.tokens(col("text"))).as("tok"))
    val perDecile = toks.groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n_tokens"))
    val firstSeen = toks.groupBy(col("tok")).agg(min(col("decile")).as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).cast("long").as("n_new_types"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecile.join(firstSeen, Seq("decile"), "left")
      .select(col("decile"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_types", sum(col("n_new_types")).over(w).cast("long"))
      .orderBy(col("decile"))
  }

  /** Source-authority PageRank over the syndication graph — which source is
    * the ORIGIN of content the others republish (the canonical-source
    * picker behind q97's overlap matrix): nodes are sources, edge weights
    * are cross-source near-dup pair counts, three damped power-iteration
    * rounds with proper dangling-mass teleport. The corpus-sized work is
    * exactly the (bucketed, skew-capped) pair generation — everything
    * after the first aggregate is #sources-sized, so the iteration is
    * broadcast-scale at any corpus size. Neighbor-contribution sums fold
    * through DECIMAL (order-independent); the oracle replays all three
    * rounds as CTEs. */
  def q111_source_rank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
    val sp = pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb"))
    val edges = sp.select(col("sa").as("u"), col("sb").as("v"))
      .union(sp.select(col("sb").as("u"), col("sa").as("v")))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).cast("double").as("w"))
      .localCheckpoint(true) // pair pipeline runs once, rounds reuse it
    val nodes = docs.select(col("source").as("node")).distinct()
    val nN = nodes.agg(count(lit(1)).cast("double").as("n"))
    val outW = edges.groupBy(col("u")).agg(sum(col("w")).as("ow"))
    var r = nodes.crossJoin(broadcast(nN))
      .select(col("node"), (lit(1.0) / col("n")).as("r"))
    for (_ <- 1 to 3) {
      val withOw = r.join(outW.select(col("u").as("node"), col("ow")),
        Seq("node"), "left")
      val contrib = withOw.filter(col("ow").isNotNull)
        .join(edges, col("node") === col("u"))
        .select(col("v"), (col("r") * col("w") / col("ow")).as("c"))
        .groupBy(col("v"))
        .agg(sum(col("c").cast("decimal(27,12)")).cast("double").as("contrib"))
      val dang = withOw.filter(col("ow").isNull)
        .agg(coalesce(sum(col("r").cast("decimal(27,12)")),
          lit(0).cast("decimal(27,12)")).cast("double").as("dang"))
      r = nodes.crossJoin(broadcast(nN)).crossJoin(broadcast(dang))
        .join(contrib.select(col("v").as("node"), col("contrib")),
          Seq("node"), "left")
        .select(col("node"),
          (lit(0.15) / col("n") + lit(0.85) *
            (coalesce(col("contrib"), lit(0.0)) + col("dang") / col("n")))
            .as("r"))
    }
    r.select(col("node").as("source"), round(col("r"), 6).as("pagerank"))
      .orderBy(col("source"))
  }

  /** Contamination-span localization — q70 says WHICH train documents leak
    * benchmark 8-grams; this says WHERE, enabling surgical span redaction
    * instead of dropping whole documents (the high-value variant when the
    * contaminated doc is otherwise good). Per contaminated train doc:
    * matched gram positions, first position, and the exact token coverage
    * of the union of 8-token spans (distinct covered positions — overlap
    * counted once). Scale shape: grams travel as md5, positions as ints;
    * the 8× position explode happens AFTER the test-set join, so it only
    * touches matched grams (rare by construction). */
  def q112_contam_spans(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val n = 8
    val withTk = Tables.documents(spark, dir)
      .withColumn("split", StableHash.split(col("doc_id"),
        Seq(800 -> "train", 900 -> "val"), "test"))
      .select(col("doc_id"), col("split"), TextOps.tokens(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
    def posGrams(d: DataFrame) = d
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), col("n_tok"),
        posexplode(transform(sequence(lit(0), size(col("tk")) - n),
          i => md5(array_join(slice(col("tk"), i + 1, lit(n)), " "))))
          .as(Seq("pos", "gh")))
    val train = posGrams(withTk.filter(col("split") === "train"))
    val testG = posGrams(withTk.filter(col("split") === "test"))
      .select(col("gh")).distinct()
    train.join(testG, "gh")
      .select(col("doc_id"), col("n_tok"), col("pos"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("cp"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tok")).as("n_tok"),
        count_distinct(col("pos")).cast("long").as("n_matched_grams"),
        min(col("pos")).cast("long").as("first_pos"),
        count_distinct(col("cp")).cast("long").as("covered_tokens"))
      .withColumn("coverage", round(col("covered_tokens").cast("double") /
        col("n_tok").cast("double"), 6))
      .orderBy(col("doc_id"))
  }

  /** Budget-constrained quality selection — the data-mixing primitive
    * "take each source's best documents until its token budget is spent":
    * docs rank by quality (distinct-token ratio, exact rational — ties
    * broken by doc_id so every engine draws the same prefix) inside their
    * source, and a doc is kept while the budget wasn't exhausted BEFORE it
    * (greedy prefix fill — at least one doc per source always survives).
    * The per-source running-token scan is [[graft.transform.PrefixSum]]
    * (a source's docs are unbounded); everything else is one combinable
    * aggregate. */
  def q115_budget_select(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2000L
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        (size(array_distinct(TextOps.tokens(col("text")))).cast("double") /
          size(TextOps.tokens(col("text"))).cast("double")).as("q"))
    // greedy per-source prefix fill: the running-token scan per source is
    // PrefixSum (a source's docs are unbounded — one window task per
    // source would own a whole crawl at 100 TB)
    graft.transform.PrefixSum.groupedRunningAggs(docs, Seq("source"),
        Seq(col("q").desc, col("doc_id")), Seq("n_tok" -> "cum"))
      .filter(col("cum") - col("n_tok") < budget)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        sum(col("n_tok")).cast("long").as("tok_kept"),
        round(min(col("q")), 6).as("min_quality_kept"))
      .orderBy(col("source"))
  }

  /** Interpolated bigram-LM scoring — the perplexity-filter upgrade from
    * q71's unigram proxy: per doc, the average negative log of
    * p(w₂|w₁) = 0.7·c(w₁w₂)/c(w₁·) + 0.3·c(w₂)/N (Jelinek–Mercer
    * interpolation, so unseen bigrams back off instead of zeroing).
    * Corpus-sized work: one bigram-count aggregate, one prefix-count
    * aggregate, one unigram aggregate — then position rows join the count
    * tables on their keys (vocabulary-sized sides shuffle as (hash,
    * count), never broadcast). NLL terms fold through DECIMAL; ln rounds
    * to 6 (libm parity). */
  def q116_bigram_lm(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
    val pos = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cBig = pos.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("double").as("cb"))
    val cPre = pos.groupBy(col("w1"))
      .agg(count(lit(1)).cast("double").as("cu"))
    val uni = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("w2"))
    val cUni = uni.groupBy(col("w2"))
      .agg(count(lit(1)).cast("double").as("c2"))
    val nTot = uni.agg(count(lit(1)).cast("double").as("nn"))
    pos.join(cBig, Seq("w1", "w2"))
      .join(cPre, Seq("w1"))
      .join(cUni, Seq("w2"))
      .crossJoin(broadcast(nTot))
      .select(col("doc_id"),
        (-log(lit(0.7) * (col("cb") / col("cu")) +
          lit(0.3) * (col("c2") / col("nn")))).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(sum(col("nll").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** RAG chunking audit — overlapping 64-token windows at stride 32 (the
    * retrieval-index preparation q94's disjoint chunks don't cover):
    * per-doc window count, the index-expansion ratio overlap costs
    * (window-token mass / doc tokens, ≈2× at stride = size/2), and how
    * many windows are corpus-wide boilerplate (same window hash in >1
    * doc — the chunks that poison retrieval). Windows leave the scan as
    * (md5, token-length) structs — chunk text never shuffles; boilerplate
    * is one combinable (hash → distinct-doc) aggregate joined back by
    * hash. */
  def q117_rag_chunks(spark: SparkSession, dir: String): DataFrame = {
    val (win, stride) = (64, 32)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
    val wins = docs.select(col("doc_id"), col("n_tok"),
        explode(transform(
          sequence(lit(0), floor((size(col("tk")) - 1).cast("double") / stride)
            .cast("int"), lit(1)),
          i => struct(
            md5(array_join(slice(col("tk"), i * stride + 1, lit(win)), " "))
              .as("h"),
            size(slice(col("tk"), i * stride + 1, lit(win))).cast("long")
              .as("wl")))).as("w"))
      .select(col("doc_id"), col("n_tok"), col("w.h").as("h"),
        col("w.wl").as("wl"))
    val boiler = wins.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"), lit(true).as("is_boiler"))
    wins.join(boiler, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_tok")).as("n_tok"),
        count(lit(1)).cast("long").as("n_windows"),
        sum(col("wl")).cast("long").as("window_tokens"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).cast("long")
          .as("n_boilerplate_windows"))
      .select(col("doc_id"), col("n_windows"),
        round(col("window_tokens").cast("double") / col("n_tok").cast("double"),
          6).as("expansion_ratio"),
        col("n_boilerplate_windows"))
      .orderBy(col("doc_id"))
  }

  /** Negative-sampling distribution (word2vec/NCE): the unigram^0.75
    * table — smoothing that lifts rare words enough to make useful
    * negatives. Normalizer Z folds over the vocabulary as a DECIMAL sum
    * of per-token pow terms (order-independent); output is the top-20
    * tokens' smoothed probabilities via TakeOrdered. One vocabulary
    * aggregate, one one-row cross join — nothing else touches the
    * corpus. */
  def q118_neg_sampling(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("c"))
    val z = counts.agg(
      sum(pow(col("c").cast("double"), lit(0.75)).cast("decimal(27,12)"))
        .cast("double").as("z"))
    counts.crossJoin(broadcast(z))
      .select(col("tok"), col("c"),
        round(pow(col("c").cast("double"), lit(0.75)) / col("z"), 6)
          .as("neg_prob"))
      .orderBy(col("c").desc, col("tok"))
      .limit(20)
  }

  /** Winsorized robust statistics per source — the audit-table row that
    * survives outliers: token counts clipped at the source's own exact
    * p10/p90 (Spark's interpolated `percentile` ↔ DuckDB `quantile_cont`,
    * the q55-proven parity), then the robust mean plus clip counts.
    * Percentiles run per source (bounded groups — the q55 documented
    * trade; `approx_percentile` is the 100 TB swap, error-gated by q61)
    * and broadcast back; clipping is a per-row map; the mean folds
    * through DECIMAL. */
  def q119_robust_stats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"),
        TextOps.tokenCount(col("text")).cast("double").as("n_tok"))
    val pct = docs.groupBy(col("source"))
      .agg(expr("percentile(n_tok, 0.1)").as("p10"),
        expr("percentile(n_tok, 0.9)").as("p90"),
        count(lit(1)).cast("long").as("n_docs"))
    docs.join(broadcast(pct), "source")
      .select(col("source"), col("n_docs"), col("p10"), col("p90"),
        greatest(least(col("n_tok"), col("p90")), col("p10")).as("w"),
        (col("n_tok") < col("p10")).as("lo"),
        (col("n_tok") > col("p90")).as("hi"))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).cast("long").as("n_docs"),
        round(max(col("p10")), 6).as("p10"),
        round(max(col("p90")), 6).as("p90"),
        round(sum(col("w").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("winsorized_mean"),
        sum(when(col("lo"), 1L).otherwise(0L)).cast("long").as("n_clipped_low"),
        sum(when(col("hi"), 1L).otherwise(0L)).cast("long").as("n_clipped_high"))
      .orderBy(col("source"))
  }

  /** Chi-square independence test lang ⊥ source — the statistical audit
    * behind "is my language mix uniform across providers": observed vs
    * expected over the FULL L×S grid (absent cells contribute their
    * expectation — dropping them understates the statistic), χ², degrees
    * of freedom, and Cramér's V effect size. Corpus-sized work is ONE
    * (lang, source) count aggregate; the grid, marginals, and test
    * statistic are all broadcast-scale. Terms fold through DECIMAL. */
  def q120_lang_source_chi2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("lang"), col("source"))
    val cell = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).cast("double").as("o"))
    val rowT = cell.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val colT = cell.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val dims = docs.agg(count_distinct(col("lang")).cast("long").as("nl"),
      count_distinct(col("source")).cast("long").as("ns"),
      count(lit(1)).cast("double").as("n"))
    val grid = rowT.crossJoin(colT)
      .join(cell, Seq("lang", "source"), "left")
      .select(col("rt"), col("ct"), coalesce(col("o"), lit(0.0)).as("o"))
    val chi = grid.crossJoin(broadcast(dims))
      .select((((col("o") - col("rt") * col("ct") / col("n")) *
        (col("o") - col("rt") * col("ct") / col("n"))) /
        (col("rt") * col("ct") / col("n"))).as("term"))
      .agg(count(lit(1)).cast("long").as("n_cells"),
        sum(col("term").cast("decimal(27,12)")).cast("double").as("chi2raw"))
    chi.crossJoin(broadcast(dims))
      .select(col("n_cells"),
        round(col("chi2raw"), 6).as("chi2"),
        ((col("nl") - 1) * (col("ns") - 1)).cast("long").as("dof"),
        col("n").cast("long").as("n_docs"),
        round(sqrt(col("chi2raw") /
          (col("n") * least(col("nl") - 1, col("ns") - 1).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** Embedding centroid drift — q96's crawl-to-crawl monitor moved into
    * embedding space: per label, the cosine between the mean vectors of
    * the two corpus halves (interleaved by vec_id parity, so both halves
    * sample the same distribution and cos ≈ 1 unless something drifted).
    * One posexplode aggregate produces per-(label, half, dim) DECIMAL
    * means — #labels × 2 × d rows however many vectors exist; the cosine
    * folds over d rows per label. */
  def q113_embed_drift(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(CosineKnn.toDouble(col("embedding"))).as(Seq("i", "x")))
    val means = ex.groupBy(col("label"), col("half"), col("i"))
      .agg((sum(col("x").cast("decimal(27,12)")).cast("double") /
        count(lit(1)).cast("double")).as("m"),
        count(lit(1)).cast("long").as("nv"))
    val a = means.filter(col("half") === 0)
      .select(col("label"), col("i"), col("m").as("ma"), col("nv").as("na"))
    val b = means.filter(col("half") === 1)
      .select(col("label"), col("i"), col("m").as("mb"), col("nv").as("nb"))
    a.join(b, Seq("label", "i"))
      .groupBy(col("label"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum((col("ma") * col("mb")).cast("decimal(27,12)")).as("dot"),
        sum((col("ma") * col("ma")).cast("decimal(27,12)")).as("aa"),
        sum((col("mb") * col("mb")).cast("decimal(27,12)")).as("bb"))
      .select(col("label").cast("long").as("label"), col("n_a"), col("n_b"),
        round(col("dot").cast("double") /
          (sqrt(col("aa").cast("double")) * sqrt(col("bb").cast("double"))), 6)
          .as("centroid_cos"))
      .withColumn("drifted", col("centroid_cos") < 0.98)
      .orderBy(col("label"))
  }

  /** Hashed-feature linear quality classifier inference — the fastText
    * deployment shape: token → feature-hash bucket → weight lookup →
    * mean-pooled logit → sigmoid, scored per document and summarized per
    * source. The weight "table" is a pure function of the bucket
    * (deterministic pseudo-weights standing in for trained parameters, so
    * both engines replay it; in production it is a broadcast array
    * lookup — same plan shape). Scale shape: scoring is a per-row fold
    * over the token array (builtin higher-order functions, zero shuffle,
    * integer logit sums so pooling is order-independent and exact); the
    * only shuffle is the #sources-row summary aggregate. Per-doc scores
    * round to 9 decimals before the DECIMAL mean fold (q101's libm-parity
    * discipline). */
  def q121_quality_classifier(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val buckets = 4096
    val scored = Tables.documents(spark, dir)
      .select(col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("source"), size(col("toks")).cast("long").as("n_tok"),
        aggregate(
          transform(col("toks"),
            t => StableHash.bucket(t, buckets) % 2001 - 1000),
          lit(0L), (acc, w) => acc + w).as("w_sum"))
      .select(col("source"),
        round(lit(1.0) / (lit(1.0) +
          exp((col("w_sum").cast("double") /
            (col("n_tok").cast("double") * lit(1000.0))) * -1)), 9)
          .as("score"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(sum(col("score").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_score"),
        sum(when(col("score") > 0.5, 1L).otherwise(0L)).cast("long")
          .as("n_keep"))
      .orderBy(col("source"))
  }

  /** Poisson-bootstrap standard error of the corpus mean token count —
    * the distributed bootstrap (Poisson(1) replica weights per row, the
    * Chamandy/Google formulation) that prices the uncertainty of any
    * corpus statistic without resampling rows. Replica draws are a pure
    * function of (doc_id, replica) via the engine-portable md5 hash, so
    * both engines replay identical replicas. Scale shape: one pass
    * computes per-doc token counts, a 16-way explode ships only
    * (replica, k, k·n_tok) integers — map-side combined to 16 partial
    * rows per partition — and all replica math downstream is 16-row
    * arithmetic on exact integer sums. */
  def q122_bootstrap_se(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val nReps = 16
    val m = 1000000
    // Cumulative Poisson(1) CDF for k = 0..5; draws beyond cap at 6.
    val cdf = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
      0.9994058151824183)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tok"))
    val point = docs.agg(count(lit(1)).cast("long").as("n_docs"),
      round(sum(col("n_tok")).cast("double") /
        count(lit(1)).cast("double"), 6).as("mean_tokens"))
    val u = (StableHash.bucket(concat_ws(":", col("doc_id"), col("r")), m) +
      1).cast("double") / lit((m + 1).toDouble)
    val k = cdf.zipWithIndex.foldRight(lit(6): org.apache.spark.sql.Column) {
      case ((c, i), rest) => when(col("u") < c, i).otherwise(rest)
    }
    val reps = docs
      .select(col("doc_id"), col("n_tok"),
        explode(array((0 until nReps).map(lit): _*)).as("r"))
      .select(col("n_tok"), col("r"), u.as("u"))
      .select(col("n_tok"), col("r"), k.cast("long").as("k"))
      .groupBy(col("r"))
      .agg(sum(col("k")).as("n_draws"),
        sum(col("k") * col("n_tok")).as("tok_mass"))
      .select(round(col("tok_mass").cast("double") /
        col("n_draws").cast("double"), 9).as("mr"))
    val center = reps.agg(
      (sum(col("mr").cast("decimal(27,12)")).cast("double") /
        lit(nReps.toDouble)).as("mbar"))
    val se = reps.crossJoin(broadcast(center))
      .select(((col("mr") - col("mbar")) * (col("mr") - col("mbar")))
        .cast("decimal(27,12)").as("dev2"), col("mbar"))
      .agg(max(col("mbar")).as("mbar"),
        sqrt(sum(col("dev2")).cast("double") / lit((nReps - 1).toDouble))
          .as("se"))
    point.crossJoin(broadcast(se))
      .select(col("n_docs"), col("mean_tokens"),
        round(col("mbar"), 6).as("boot_mean"),
        round(col("se"), 6).as("boot_se"),
        lit(nReps.toLong).as("n_replicas"))
  }

  /** Cohen's kappa between the n-gram language-ID prediction and the
    * stored label — chance-corrected agreement, the single-number answer
    * to "is the classifier better than the label prior" that q63's raw
    * confusion matrix doesn't give. Corpus-sized work is ONE (label,
    * pred) count aggregate; the diagonal, marginals, and kappa are
    * #langs-row arithmetic on exact integer counts (po and pe are ratios
    * of exact integers, so both engines derive identical doubles). */
  def q123_langid_kappa(spark: SparkSession, dir: String): DataFrame = {
    val cell = Tables.documents(spark, dir)
      .select(col("lang"), graft.text.LangId.predict(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("o"))
    val n = cell.agg(sum(col("o")).as("n"))
    val diag = cell.filter(col("lang") === col("pred"))
      .agg(coalesce(sum(col("o")), lit(0L)).as("diag"))
    val rt = cell.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val ct = cell.groupBy(col("pred")).agg(sum(col("o")).as("ct"))
    // rt*ct and n*n through DECIMAL/double — long*long overflows at
    // web-corpus doc counts (n ~ 1e12 => n^2 ~ 1e24).
    val peNum = rt.join(broadcast(ct), rt("lang") === ct("pred"))
      .agg(coalesce(sum(col("rt").cast("decimal(19,0)") *
        col("ct").cast("decimal(19,0)")), lit(0).cast("decimal(38,0)"))
        .as("pe_num"))
    val pe = col("pe_num").cast("double") /
      (col("n").cast("double") * col("n").cast("double"))
    val po = col("diag").cast("double") / col("n").cast("double")
    diag.crossJoin(broadcast(peNum)).crossJoin(broadcast(n))
      .select(col("n").cast("long").as("n_docs"),
        round(po, 6).as("po"),
        round(pe, 6).as("pe"),
        round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  /** Temporal split leakage audit — the eval-contamination check for
    * time-split training data: cut events at the 80th time percentile
    * (train before, eval after) and measure how many users straddle the
    * boundary and what share of eval events they own. User-level leakage
    * is what actually contaminates per-user models; a clean time split
    * says nothing about it. Scale shape: the cutoff is a one-row
    * aggregate broadcast back; per-user straddle counts are ONE
    * map-side-combinable aggregate; the summary is a second tiny agg.
    * All counts are exact integers, so both engines derive identical
    * rates. */
  def q124_temporal_leakage(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
    val cut = ev.agg(expr("percentile(ms, 0.8)").as("cut"))
    val usr = ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ms") <= col("cut"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("ms") > col("cut"), 1L).otherwise(0L)).as("n_eval"))
    usr.agg(count(lit(1)).cast("long").as("n_users"),
        sum(when(col("n_train") > 0 && col("n_eval") > 0, 1L).otherwise(0L))
          .cast("long").as("n_straddle"),
        sum(col("n_eval")).cast("long").as("n_eval_events"),
        sum(when(col("n_train") > 0, col("n_eval")).otherwise(0L))
          .cast("long").as("n_eval_leaky"))
      .select(col("n_users"), col("n_straddle"),
        round(col("n_straddle").cast("double") /
          col("n_users").cast("double"), 6).as("straddle_rate"),
        col("n_eval_events"),
        round(col("n_eval_leaky").cast("double") /
          col("n_eval_events").cast("double"), 6).as("eval_leak_share"))
  }

  /** LSH banding planner — pick (bands, rowsPerBand) from data, not
    * folklore: over the observed near-dup pair population (the widest
    * q27 candidate set, exact Jaccard ≥ 0.5), replay the S-curve
    * detection probability 1−(1−s^r)^b for three 64-perm splits and
    * report expected recall per configuration. This is the design query
    * you run BEFORE committing a banding to a 100 TB dedup pass. Scale
    * shape: pair generation is the capped-bucket q27 path; the config
    * cross join multiplies #pairs by 3 carrying one double; per-config
    * means fold through DECIMAL on 9-decimal-rounded probabilities
    * (libm pow parity, the q118 discipline). */
  def q125_lsh_planner(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.MinHashLsh
    val docs = Tables.documents(spark, dir)
    val pairs = MinHashLsh.nearDuplicatePairs(docs, "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
      maxBucket = Some(100))
    val cfg = {
      import spark.implicits._
      Seq((32, 2), (16, 4), (8, 8)).toDF("bands", "rows_per_band")
    }
    pairs.crossJoin(broadcast(cfg))
      .select(col("bands"), col("rows_per_band"),
        round(lit(1.0) - pow(lit(1.0) - pow(col("jaccard"),
          col("rows_per_band").cast("double")), col("bands").cast("double")), 9)
          .as("detect"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        round(sum(col("detect").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_detect"),
        sum(when(col("detect") >= 0.9, 1L).otherwise(0L)).cast("long")
          .as("n_high"))
      .select(col("bands").cast("long").as("bands"),
        col("rows_per_band").cast("long").as("rows_per_band"),
        col("n_pairs"), col("mean_detect"), col("n_high"))
      .orderBy(col("bands").desc)
  }

  /** Shuffle-key skew profiler — the diagnostic you run before a large
    * groupBy/join: per-key count distribution over events.user_id,
    * normalized entropy (1 = uniform), the hottest key's share, and the
    * salt factor that would level the hottest key against the average
    * partition load at 32 shuffle partitions. One key-count aggregate
    * (map-side combinable) + a one-row summary; the entropy folds
    * c·ln(c) through DECIMAL (q87's parity discipline). */
  def q126_skew_profile(spark: SparkSession, dir: String): DataFrame = {
    val kc = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    kc.agg(count(lit(1)).cast("long").as("n_keys"),
        sum(col("c")).cast("long").as("n_rows"),
        max(col("c")).cast("long").as("max_count"),
        sum((col("c").cast("double") * log(col("c").cast("double")))
          .cast("decimal(27,12)")).as("slnc"))
      .select(col("n_keys"), col("n_rows"), col("max_count"),
        round(col("max_count").cast("double") /
          col("n_rows").cast("double"), 6).as("max_share"),
        round((log(col("n_rows").cast("double")) -
          col("slnc").cast("double") / col("n_rows").cast("double")) /
          log(col("n_keys").cast("double")), 6).as("entropy_norm"),
        ceil(col("max_count").cast("double") * lit(32.0) /
          col("n_rows").cast("double")).cast("long").as("salt_factor"))
  }

  /** MAD-based robust outlier detection — the Iglewicz–Hoaglin modified
    * z-score (0.6745·(x−median)/MAD, flag |z| > 3.5) over event values
    * per event type: the metric-anomaly gate that survives the heavy
    * tails a mean/stddev z-score drowns in. Scale shape: two exact
    * grouped percentiles (bounded groups — the q55 documented trade,
    * `approx_percentile` is the 100 TB swap) broadcast back; everything
    * else is a per-row map + one combinable aggregate. */
  def q127_mad_outliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), col("value"), col("med"),
        abs(col("value") - col("med")).as("adev"))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("med"), col("mad"),
        when(col("mad") > 0.0,
          abs(lit(0.6745) * (col("value") - col("med")) / col("mad")))
          .otherwise(lit(0.0)).as("z"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(max(col("med")), 6).as("median_value"),
        round(max(col("mad")), 6).as("mad"),
        sum(when(col("z") > 3.5, 1L).otherwise(0L)).cast("long")
          .as("n_outliers"))
      .select(col("event_type"), col("n_events"), col("median_value"),
        col("mad"), col("n_outliers"),
        round(col("n_outliers").cast("double") /
          col("n_events").cast("double"), 6).as("outlier_rate"))
      .orderBy(col("event_type"))
  }

  /** Hill estimator of the document-length tail index — "how heavy is the
    * long-document tail" as a number: over the top-k order statistics
    * x₁ ≥ … ≥ x_k (k = 100, ties broken by doc_id so the set is
    * deterministic), α̂ = (k−1) / Σ ln(xᵢ/x_k). Pretraining corpora with
    * α < 2 have infinite-variance length distributions — packing and
    * batching need to know. Scale shape: the top-k is a TakeOrdered
    * (never a global sort); the estimator is k-row math with ln terms
    * rounded to 9 decimals before the DECIMAL fold. */
  def q128_tail_index(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    val top = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tok"))
      .orderBy(col("n_tok").desc, col("doc_id"))
      .limit(k)
    val xk = top.agg(min(col("n_tok")).cast("double").as("xk"))
    top.crossJoin(broadcast(xk))
      .select(round(log(col("n_tok").cast("double")) - log(col("xk")), 9)
        .as("lr"), col("xk"))
      .agg(count(lit(1)).cast("long").as("k"),
        max(col("xk")).as("xk"),
        sum(col("lr").cast("decimal(27,12)")).cast("double").as("slr"))
      .select(col("k"), col("xk").cast("long").as("x_min"),
        round(lit((k - 1).toDouble) / col("slr"), 6).as("alpha_hat"))
  }

  /** Quality-score calibration — does the q121 classifier score agree
    * with an INDEPENDENT quality signal it never saw? Bin documents by
    * score decile (fixed cut floor(score·10), NOT ntile — rank-based
    * bins are partition-order-unstable) and measure each bin's mean
    * stopword ratio and mean length. A flat curve means the score is
    * noise; a sloped one calibrates it. Scale shape: scoring and the
    * stopword ratio are the same zero-shuffle per-row fold; the per-bin
    * summary is one ≤10-group aggregate with DECIMAL means. */
  def q129_score_calibration(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val buckets = 4096
    val stop = Seq("the", "and", "of", "to", "in", "is", "it", "that")
    val scored = Tables.documents(spark, dir)
      .select(col("text"), TextOps.tokens(col("text")).as("toks"))
      .select(size(col("toks")).cast("long").as("n_tok"),
        TextOps.vocabHits(col("text"), stop).as("sw_hits"),
        aggregate(
          transform(col("toks"),
            t => StableHash.bucket(t, buckets) % 2001 - 1000),
          lit(0L), (acc, w) => acc + w).as("w_sum"))
      .select(col("n_tok"), col("sw_hits"),
        round(lit(1.0) / (lit(1.0) +
          exp((col("w_sum").cast("double") /
            (col("n_tok").cast("double") * lit(1000.0))) * -1)), 9)
          .as("score"))
      .select(col("n_tok"),
        round(col("sw_hits").cast("double") / col("n_tok").cast("double"), 9)
          .as("sw_ratio"),
        least(floor(col("score") * 10).cast("long"), lit(9L)).as("bin"))
    scored.groupBy(col("bin"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(sum(col("n_tok")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_tok"),
        round(sum(col("sw_ratio").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_sw_ratio"))
      .orderBy(col("bin"))
  }

  /** Benford first-significant-digit audit — the forensic data-quality
    * gate for numeric feeds: synthetic, truncated, or hand-entered
    * metrics drift off Benford's log₁₀(1+1/d) curve long before summary
    * stats notice. First digit via floor(x/10^floor(log₁₀ x)) — substring
    * tricks break on 0 < x < 1. One combinable 9-group aggregate; the
    * expected curve and deviations are constant-time math. */
  def q130_benford(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value") > 0.0)
      .select(floor(col("value") /
        pow(lit(10.0), floor(log10(col("value"))))).cast("long").as("digit"))
    val tot = ev.agg(count(lit(1)).cast("double").as("n"))
    ev.groupBy(col("digit"))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n_events"),
        round(col("n_events").cast("double") / col("n"), 6).as("obs_p"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
          .as("benford_p"),
        round(abs(col("n_events").cast("double") / col("n") -
          log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))), 6)
          .as("abs_dev"))
      .orderBy(col("digit"))
  }

  /** Event funnel conversion — the ordered, windowed view→click→purchase
    * funnel: each step's first occurrence must FOLLOW the previous step's
    * within 24 h (unordered "did both ever" counts overstate conversion
    * to ~100%). Scale shape: three per-user conditional-min aggregates,
    * each keyed on user_id so the shuffle partitioning is reused across
    * the two self-joins; timestamps compare as exact epoch-millis longs. */
  def q131_event_funnel(spark: SparkSession, dir: String): DataFrame = {
    val windowMs = 86400000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val vt = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ms")).as("vt"))
    val ct = ev.filter(col("event_type") === "click").join(vt, "user_id")
      .filter(col("ms") > col("vt") && col("ms") <= col("vt") + windowMs)
      .groupBy(col("user_id")).agg(min(col("ms")).as("ct"))
    val pt = ev.filter(col("event_type") === "purchase").join(ct, "user_id")
      .filter(col("ms") > col("ct") && col("ms") <= col("ct") + windowMs)
      .groupBy(col("user_id")).agg(min(col("ms")).as("pt"))
    val users = ev.select(col("user_id")).distinct()
    users.agg(count(lit(1)).cast("long").as("n_users"))
      .crossJoin(broadcast(vt.agg(count(lit(1)).cast("long").as("n_view"))))
      .crossJoin(broadcast(ct.agg(count(lit(1)).cast("long").as("n_click_after"))))
      .crossJoin(broadcast(pt.agg(count(lit(1)).cast("long").as("n_purchase_after"))))
      .select(col("n_users"), col("n_view"), col("n_click_after"),
        col("n_purchase_after"),
        round(col("n_click_after").cast("double") /
          col("n_view").cast("double"), 6).as("view_to_click"),
        round(col("n_purchase_after").cast("double") /
          col("n_click_after").cast("double"), 6).as("click_to_purchase"))
  }

  /** Inter-arrival time profile — the traffic-shape numbers that size
    * streaming watermarks and session windows: per-user consecutive-event
    * gaps (lag window over a high-cardinality user partition — the one
    * window shape that scales), then gap percentiles and the burstiness
    * coefficient B = (σ−μ)/(σ+μ) (B→−1 periodic, 0 Poisson, →1 bursty).
    * σ and μ derive from exact integer millisecond sums folded through
    * DECIMAL, so both engines agree bit-for-bit. */
  def q132_interarrival(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .select(col("user_id"),
        (col("ms") - lag(col("ms"), 1).over(w)).as("gap"))
      .filter(col("gap").isNotNull)
    gaps.agg(count(lit(1)).cast("long").as("n_gaps"),
        sum(col("gap").cast("decimal(19,0)")).as("s1"),
        sum(col("gap").cast("decimal(19,0)") * col("gap").cast("decimal(19,0)"))
          .as("s2"),
        expr("percentile(gap, 0.5)").as("p50"),
        expr("percentile(gap, 0.9)").as("p90"))
      .select(col("n_gaps"),
        round(col("s1").cast("double") / col("n_gaps").cast("double") /
          lit(1000.0), 6).as("mean_gap_s"),
        round(col("p50") / 1000.0, 6).as("p50_gap_s"),
        round(col("p90") / 1000.0, 6).as("p90_gap_s"),
        round((sqrt(col("s2").cast("double") / col("n_gaps").cast("double") -
          pow(col("s1").cast("double") / col("n_gaps").cast("double"), 2)) -
          col("s1").cast("double") / col("n_gaps").cast("double")) /
          (sqrt(col("s2").cast("double") / col("n_gaps").cast("double") -
            pow(col("s1").cast("double") / col("n_gaps").cast("double"), 2)) +
            col("s1").cast("double") / col("n_gaps").cast("double")), 6)
          .as("burstiness"))
  }

  /** Daily retention cohorts — the (cohort day × active day) matrix
    * behind every growth dashboard: users bucketed by first-event day
    * (anchored at the corpus min timestamp — a one-row broadcast, not a
    * hardcoded date), then per-cohort daily active counts and retention
    * rates. Scale shape: the (user, day) presence set and the cohort
    * assignment are both user-keyed aggregates sharing one partitioning;
    * cohort sizes are a broadcast-sized side. All counts exact. */
  def q133_retention_cohorts(spark: SparkSession, dir: String): DataFrame = {
    val dayMs = 86400000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
    val t0 = ev.agg(min(col("ms")).as("t0"))
    val uw = ev.crossJoin(broadcast(t0))
      .select(col("user_id"),
        floor((col("ms") - col("t0")) / lit(dayMs.toDouble)).cast("long")
          .as("d"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day"))
      .agg(count(lit(1)).cast("long").as("n_cohort"))
    uw.join(cohort, "user_id")
      .groupBy(col("cohort_day"), col("d"))
      .agg(count(lit(1)).cast("long").as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("d").as("day"), col("n_cohort"),
        col("n_active"),
        round(col("n_active").cast("double") /
          col("n_cohort").cast("double"), 6).as("retention"))
      .orderBy(col("cohort_day"), col("day"))
  }

  /** Embedding isotropy health check — the pre-ANN gate for a vector
    * corpus: mean vector norm, the centroid's norm, and their ratio
    * (→0 isotropic/healthy, →1 all vectors point one way — cosine
    * contrast collapses and every ANN structure degrades). Scale shape:
    * norms are the compiled [[graft.functions.DotProduct]] per-row fold;
    * per-dim centroid sums are one posexplode aggregate producing d rows
    * (q113's shape); everything downstream is d-row math. */
  def q134_embed_isotropy(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .select(col("vec_id"), CosineKnn.toDouble(col("embedding")).as("v"))
    val nstats = ex
      .select(round(sqrt(CosineKnn.dot(col("v"), col("v"))), 9).as("nrm"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        round(sum(col("nrm").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_norm"))
    val n = ex.agg(count(lit(1)).cast("double").as("n"))
    val cn = ex.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(sum(col("x").cast("decimal(27,12)")).as("s"))
      .crossJoin(broadcast(n))
      .select(((col("s").cast("double") / col("n")) *
        (col("s").cast("double") / col("n"))).cast("decimal(27,12)").as("m2"))
      .agg(sqrt(sum(col("m2")).cast("double")).as("cnorm"))
    nstats.crossJoin(broadcast(cn))
      .select(col("n_vecs"), lit(64L).as("dim"), col("mean_norm"),
        round(col("cnorm"), 6).as("centroid_norm"),
        round(col("cnorm") / col("mean_norm"), 6).as("isotropy_ratio"))
  }

  /** Session Markov transition matrix — the behavioral language model of
    * the event stream: P(next event type | current), estimated from
    * per-user consecutive pairs. Feeds next-event prediction, anomaly
    * scoring (improbable transitions), and funnel design. Scale shape:
    * the lag window partitions by user (the scalable window shape); the
    * transition counts are a 25-group combinable aggregate; row
    * normalization joins a broadcast-sized totals side. */
  def q135_markov_transitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val tr = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .select(col("event_type").as("next_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
    val counts = tr.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).cast("long").as("n"))
    val totals = counts.groupBy(col("prev_type"))
      .agg(sum(col("n")).cast("long").as("tot"))
    counts.join(broadcast(totals), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6).as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Regional revenue (TPC-H Q5 shape) — the canonical 6-table snowflake
    * join: region → nation → customer → orders → lineitem → supplier,
    * local-supplier constraint, one-year order window, revenue per
    * nation. Scale shape: region/nation (and the nation-filtered
    * customer-side key set) broadcast; orders–lineitem is the one
    * genuine fact–fact shuffle, keyed on orderkey; revenue folds through
    * DECIMAL(18,2) (the q01 money discipline). */
  def q136_regional_revenue(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val reg = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nat = Tables.nation(spark, dir)
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >=
          lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") <
          lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      .select(col("o_orderkey"), col("o_custkey"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).cast("long").as("n_items"))
      .orderBy(col("n_name"))
  }

  /** Market-basket affinity — part-pair lift within orders:
    * lift(a,b) = P(a,b)·N / (P(a)·P(b)), support ≥ 2, top-20. The
    * co-occurrence self-join keys on l_orderkey, so pair generation is
    * bounded by per-order basket size (~7 items → ≤21 pairs), never
    * corpus-quadratic — the same bounded-key-pair discipline as the LSH
    * buckets. Part frequencies are a dimension-sized broadcast; the
    * top-20 is a TakeOrdered with full tie-break. */
  def q137_basket_lift(spark: SparkSession, dir: String): DataFrame = {
    // pin the basket grain: it feeds the order count, the marginals AND
    // both self-join sides — unpinned, the scan+distinct ran three times
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint(true)
    val nOrders = items.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).cast("double").as("n_orders"))
    val freq = items.groupBy(col("l_partkey"))
      .agg(count(lit(1)).cast("long").as("n_part"))
    val a = items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
    val b = items.select(col("l_orderkey"), col("l_partkey").as("part_b"))
    a.join(b, Seq("l_orderkey")).filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).cast("long").as("n_ab"))
      .filter(col("n_ab") >= 2)
      .join(broadcast(freq.select(col("l_partkey").as("part_a"),
        col("n_part").as("n_a"))), "part_a")
      .join(broadcast(freq.select(col("l_partkey").as("part_b"),
        col("n_part").as("n_b"))), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round((col("n_ab").cast("double") * col("n_orders")) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** RFM customer segmentation — recency / frequency / monetary tercile
    * buckets, the standard BI segmentation: per-customer aggregates,
    * global tercile cuts (exact percentiles over the customer-level
    * frame — already corpus-collapsed; `approx_percentile` at larger
    * dimension counts), then 27-cell segment sizes. Monetary folds
    * through DECIMAL(18,2); recency derives from exact epoch millis. */
  def q138_rfm_segments(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_custkey"), unix_millis(col("o_orderdate")).as("ms"),
        col("o_totalprice"))
    val tmax = ord.agg(max(col("ms")).as("tmax"))
    val cust = ord.crossJoin(broadcast(tmax))
      .groupBy(col("o_custkey"))
      .agg(((max(col("tmax")) - max(col("ms"))).cast("double") /
          lit(86400000.0)).as("recency_days"),
        count(lit(1)).cast("double").as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("monetary"))
    val cuts = cust.agg(
      expr("percentile(recency_days, 0.33)").as("r33"),
      expr("percentile(recency_days, 0.67)").as("r67"),
      expr("percentile(frequency, 0.33)").as("f33"),
      expr("percentile(frequency, 0.67)").as("f67"),
      expr("percentile(monetary, 0.33)").as("m33"),
      expr("percentile(monetary, 0.67)").as("m67"))
    def bucket(c: org.apache.spark.sql.Column, lo: String, hi: String) =
      when(c <= col(lo), 0L).when(c <= col(hi), 1L).otherwise(2L)
    cust.crossJoin(broadcast(cuts))
      .select(bucket(col("recency_days"), "r33", "r67").as("r_bucket"),
        bucket(col("frequency"), "f33", "f67").as("f_bucket"),
        bucket(col("monetary"), "m33", "m67").as("m_bucket"),
        col("monetary"))
      .groupBy(col("r_bucket"), col("f_bucket"), col("m_bucket"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        round(sum(col("monetary").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_monetary"))
      .orderBy(col("r_bucket"), col("f_bucket"), col("m_bucket"))
  }

  /** Zipf-law fit — OLS slope of ln(freq) on ln(rank) over the top-100
    * vocabulary: natural corpora sit near −1; a flat slope flags
    * templated/synthetic text, a steep one a collapsed vocabulary. The
    * q110 Heaps-law growth curve's frequency-side twin. Scale shape: the
    * vocabulary aggregate collapses the corpus; the top-100 is a
    * TakeOrdered (full tie-break on (freq desc, tok)); the rank window
    * runs on 100 rows — a BOUNDED single partition by construction, the
    * one place a global window is the right plan. OLS moments fold
    * through DECIMAL on 9-decimal-rounded ln terms. */
  def q139_zipf_fit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("c"))
      .orderBy(col("c").desc, col("tok"))
      .limit(100)
    val xy = top
      .select(col("c"),
        row_number().over(Window.orderBy(col("c").desc, col("tok")))
          .cast("long").as("rank"))
      .select(round(log(col("rank").cast("double")), 9).as("x"),
        round(log(col("c").cast("double")), 9).as("y"))
      .select(col("x"), col("y"),
        (col("x") * col("y")).cast("decimal(27,12)").as("xy"),
        (col("x") * col("x")).cast("decimal(27,12)").as("xx"),
        col("x").cast("decimal(27,12)").as("sx"),
        col("y").cast("decimal(27,12)").as("sy"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("xy")).cast("double").as("sxy"),
        sum(col("xx")).cast("double").as("sxx"),
        sum(col("sx")).cast("double").as("sx"),
        sum(col("sy")).cast("double").as("sy"))
    xy.select(col("n").cast("long").as("n_terms"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"),
      round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
        col("n"), 6).as("intercept"))
  }

  /** Mann–Kendall trend test on daily event volumes — the
    * distribution-free "is traffic actually trending" monitor (no
    * normality assumption, ties handled exactly): S = Σ_{i<j}
    * sign(c_j − c_i) over the daily series, tie-corrected variance,
    * normal-approximation z. Scale shape: the corpus collapses to
    * #days counts in one aggregate; the pair sum and tie correction are
    * #days²-row math on exact integers — nothing float-ordered. */
  def q140_trend_test(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(unix_millis(col("ts")).as("ms"))
    val t0 = ev.agg(min(col("ms")).as("t0"))
    val daily = ev.crossJoin(broadcast(t0))
      .select(floor((col("ms") - col("t0")) / lit(86400000.0)).cast("long")
        .as("d"))
      .groupBy(col("d")).agg(count(lit(1)).cast("long").as("c"))
    val a = daily.select(col("d").as("di"), col("c").as("ci"))
    val b = daily.select(col("d").as("dj"), col("c").as("cj"))
    val s = a.join(broadcast(b), col("di") < col("dj"))
      .agg(sum(signum((col("cj") - col("ci")).cast("double")).cast("long"))
        .as("s_stat"))
    val n = daily.agg(count(lit(1)).cast("long").as("n"))
    val ties = daily.groupBy(col("c")).agg(count(lit(1)).cast("long").as("t"))
      .filter(col("t") > 1)
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)),
        lit(0L)).as("tie_corr"))
    s.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .select(col("n").as("n_days"), col("s_stat"),
        ((col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tie_corr"))
          .cast("double") / lit(18.0)).as("var_s"))
      .select(col("n_days"), col("s_stat"), round(col("var_s"), 6).as("var_s"),
        round((col("s_stat").cast("double") -
          signum(col("s_stat").cast("double"))) / sqrt(col("var_s")), 6)
          .as("z"))
      .withColumn("trending", abs(col("z")) > 1.96)
  }

  /** Autocorrelation seasonality probe — ACF of the hourly event-count
    * series at lags 1 / 24 / 168 (hour, day, week): the statistical
    * answer to "does this stream have a daily rhythm", which decides
    * window sizes and anomaly baselines. Missing hours zero-fill via a
    * sequence spine (sparse streams otherwise silently skip them and
    * corrupt the lag alignment). Scale shape: one corpus aggregate →
    * #hours rows; the lag joins and moments are series-sized math with
    * DECIMAL folds over 9-decimal-rounded deviation products. */
  def q141_acf_seasonality(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(unix_millis(col("ts")).as("ms"))
    val t0 = ev.agg(min(col("ms")).as("t0"))
    val counts = ev.crossJoin(broadcast(t0))
      .select(floor((col("ms") - col("t0")) / lit(3600000.0)).cast("long")
        .as("h"))
      .groupBy(col("h")).agg(count(lit(1)).cast("long").as("c"))
    val hmax = counts.agg(max(col("h")).as("hmax"))
    val spine = hmax.select(explode(sequence(lit(0L), col("hmax"))).as("h"))
    val series = spine.join(counts, Seq("h"), "left")
      .select(col("h"), coalesce(col("c"), lit(0L)).as("c"))
    val mu = series.agg((sum(col("c")).cast("double") /
      count(lit(1)).cast("double")).as("mu"),
      count(lit(1)).cast("long").as("n_hours"))
    val dev = series.crossJoin(broadcast(mu))
      .select(col("h"), (col("c").cast("double") - col("mu")).as("d"),
        col("n_hours"))
    val denom = dev.agg(sum((col("d") * col("d")).cast("decimal(27,12)"))
      .cast("double").as("ss"), max(col("n_hours")).as("n_hours"))
    val lags = Seq(1L, 24L, 168L)
    val lagDf = {
      import spark.implicits._
      lags.toDF("lag")
    }
    val pairs = dev.select(col("h"), col("d"))
      .crossJoin(broadcast(lagDf))
      .select((col("h") - col("lag")).as("h0"), col("lag"), col("d").as("d1"))
      .join(dev.select(col("h").as("h0"), col("d").as("d0")), "h0")
      .groupBy(col("lag"))
      .agg(sum((col("d0") * col("d1")).cast("decimal(27,12)")).cast("double")
        .as("num"))
    pairs.crossJoin(broadcast(denom))
      .select(col("lag"), col("n_hours"),
        round(col("num") / col("ss"), 6).as("acf"))
      .orderBy(col("lag"))
  }

  /** Pairwise-distance histogram — the contrast-curve diagnostic behind
    * every ANN parameter choice: the cosine distribution over a
    * deterministic strided pair sample (vec i paired with (i+s) mod n
    * for strides 1/7/97 — 3n pairs, engine-replayable, no RNG). A
    * histogram bunched near 1 predicts LSH bucket collapse (q134's
    * isotropy gate localized to pair space). Scale shape: norms and
    * dots are compiled per-row folds; the sample is 3 equi-joins keyed
    * on vec_id; the histogram is a ≤10-group aggregate. */
  def q142_pair_histogram(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .select(col("vec_id"), CosineKnn.toDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        sqrt(CosineKnn.dot(col("v"), col("v"))).as("nrm"))
    val n = ex.agg(count(lit(1)).as("n"))
    val strides = {
      import spark.implicits._
      Seq(1L, 7L, 97L).toDF("s")
    }
    val a = ex.crossJoin(broadcast(n)).crossJoin(broadcast(strides))
      .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"),
        pmod(col("vec_id") + col("s"), col("n")).as("tgt"))
    val b = ex.select(col("vec_id").as("tgt"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.join(b, "tgt").filter(col("vec_id") =!= col("tgt"))
      .select(round(CosineKnn.dot(col("va"), col("vb")) /
        (col("na") * col("nb")), 9).as("cos"))
      .select(least(floor((col("cos") + 1.0) * 5).cast("long"), lit(9L))
        .as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .crossJoin(broadcast(n.select(col("n").cast("double").as("nd"))))
      .select(col("bin"), col("n_pairs"),
        round(col("n_pairs").cast("double") / (col("nd") * 3.0), 6)
          .as("share"))
      .orderBy(col("bin"))
  }

  /** Near-dup graph degree distribution — the graph-shape audit that
    * decides between plain label-prop (q54) and whale-safe BigStar
    * (q67): a power-law degree tail or a single huge hub means the
    * whale path. Degrees from the capped q27 pair list (both
    * directions), histogram including the degree-0 mass. Scale shape:
    * the pair list is near-dup-sized; degrees and the histogram are two
    * combinable aggregates; the zero row is corpus-count arithmetic. */
  def q143_dup_degrees(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
      "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
      maxBucket = Some(100))
    val deg = pairs.select(col("id_a").as("doc_id"))
      .union(pairs.select(col("id_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("degree"))
    val hist = deg.groupBy(col("degree"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val zero = docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_pos"))))
      .select(lit(0L).as("degree"),
        (col("n_total") - col("n_pos")).cast("long").as("n_docs"))
    hist.unionByName(zero)
      .filter(col("n_docs") > 0)
      .orderBy(col("degree"))
  }

  /** Join-contract audit — the pre-join data contract for the
    * orders⋈lineitem key: null-key rates on both sides, orphan counts
    * in both directions, key-cardinality ratio, and the fan-out profile
    * (max + p99 lineitems per order) that predicts the join's output
    * size and skew. q12 counts one orphan direction; this is the full
    * contract a pipeline asserts before shipping a join at scale. All
    * counts are combinable aggregates; the orphan checks are semi/anti
    * joins on the join key itself. */
  def q144_join_contract(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"))
    val liNull = li.agg(count(lit(1)).cast("long").as("n_li"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).cast("long")
        .as("li_null_keys"))
    val ordNull = ord.agg(count(lit(1)).cast("long").as("n_orders"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).cast("long")
        .as("ord_null_keys"))
    // null keys are tallied separately — exclude them from the orphan
    // checks so anti-join and NOT IN semantics agree
    val liOrphans = li.filter(col("l_orderkey").isNotNull)
      .join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).cast("long").as("li_orphans"))
    val ordChildless = ord.filter(col("o_orderkey").isNotNull)
      .join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .agg(count(lit(1)).cast("long").as("orders_childless"))
    val fanout = li.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("double").as("k"))
      .agg(max(col("k")).cast("long").as("max_fanout"),
        expr("percentile(k, 0.99)").as("p99_fanout"))
    liNull.crossJoin(broadcast(ordNull)).crossJoin(broadcast(liOrphans))
      .crossJoin(broadcast(ordChildless)).crossJoin(broadcast(fanout))
      .select(col("n_li"), col("n_orders"), col("li_null_keys"),
        col("ord_null_keys"), col("li_orphans"), col("orders_childless"),
        col("max_fanout"), round(col("p99_fanout"), 6).as("p99_fanout"))
  }

  /** Top-10 unshipped revenue — the TPC-H Q3 shape (segment-filtered
    * customers, orders placed before the cut, lineitems still unshipped
    * after it). Scale shape: both date filters push to the parquet scans;
    * the customer join is NOT hinted (one segment is corpus-proportional,
    * ~1/5 of customers — at 100 TB that is a shuffle join, and AQE may
    * still broadcast it at small SF); the top-10 plans as
    * TakeOrderedAndProject, never a global sort. Revenue is an exact
    * decimal sum (order-independent), the sort key is the decimal with
    * (o_orderdate, l_orderkey) tie-breaks, and the double cast happens
    * after the cut. */
  def q145_unshipped_revenue(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val cut = lit(java.sql.Timestamp.valueOf("1998-07-01 00:00:00"))
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cut)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).as("rev"))
      .orderBy(col("rev").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"), col("rev").cast("double").as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
  }

  /** Small-quantity revenue — the TPC-H Q17 shape: lineitems of one
    * brand whose quantity is below 20% of that part's average, summed as
    * a yearly average. The below-average predicate is spelled
    * division-free (`5·qty·n < Σqty`, all exact decimals) so the
    * threshold cannot flip on a last-ulp double between engines. Scale
    * shape: the brand slice of `part` is a broadcast (4% of a dimension
    * table); the per-part stats join is un-hinted — its cardinality is
    * the same brand slice, so AQE broadcasts it at small SF and it
    * shuffles on l_partkey at 100 TB, where lineitem rows per part are
    * bounded (~30) so no skew. */
  def q146_small_qty_revenue(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#13")
      .select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val stats = li.groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_quantity"))).as("qty_sum"),
        count(lit(1)).cast("decimal(18,0)").as("n"))
    li.join(stats, "l_partkey")
      .filter(lit(5) * dec(col("l_quantity")) * col("n") < col("qty_sum"))
      .agg(
        (sum(dec(col("l_extendedprice"))).cast("double") / 7.0)
          .cast("double").as("avg_yearly"),
        count(lit(1)).cast("long").as("n_small"))
  }

  /** Last-touch attribution — each purchase credits the most recent
    * click/view/signup by the same user within a 7-day lookback, else
    * 'direct'. Reuses [[graft.transform.AsOfJoin]] (the union +
    * ordered-window as-of), so the whole attribution is ONE shuffle on
    * user_id + one in-partition sort — no range explosion, no per-row
    * probe; per-user event counts bound the window partitions. The
    * oracle is DuckDB's native ASOF LEFT JOIN (independent algorithm,
    * same semantics); (user_id, ts) is collision-free in this data so
    * the last touch is unambiguous. Value totals are exact decimal sums
    * cast to double. */
  def q147_last_touch(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val touches = ev
      .filter(col("event_type").isin("click", "view", "signup"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("ts").as("touch_ts"))
    graft.transform.AsOfJoin
      .leftAsOf(purchases, touches, "user_id", "ts", "ts", "event_id")
      .withColumn("channel",
        when(col("asof_touch_ts").isNotNull &&
          col("asof_touch_ts") >= col("ts") - expr("INTERVAL 7 DAYS"),
          col("asof_event_type")).otherwise(lit("direct")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).cast("long").as("n_conversions"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("channel"))
  }

  /** Dup-graph triangle census — triangle count and global clustering
    * coefficient (3·triangles / wedges) over the capped q27 near-dup
    * pair list. High clustering (→1) means dup CLIQUES (template
    * families, mirror sites) where transitive closure is cheap; low
    * clustering with high degree means chain/star topology where CC
    * rounds dominate — the metric that picks label-prop (q54) vs
    * whale-safe BigStar (q67) AND predicts its round count. Scale
    * shape: the wedge join keys on the shared vertex, so work is
    * Σ deg², bounded by the LSH `maxBucket` cap — never corpus-sized;
    * triangles close with one semi-join back on the (a,c) edge;
    * wedges are exact integer arithmetic on the degree histogram. */
  def q148_dup_triangles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val e = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
      "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
      maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true) // LSH pipeline runs once; 5 downstream uses
    // ordered wedge (a<b<c): edges (a,b) and (b,c) share the middle
    // vertex; the triangle closes iff (a,c) is also an edge
    val tri = e.select(col("id_a").as("a"), col("id_b").as("b"))
      .join(e.select(col("id_a").as("b"), col("id_b").as("c")), "b")
      .join(e.select(col("id_a").as("a"), col("id_b").as("c")),
        Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    val deg = e.select(col("id_a").as("v"))
      .union(e.select(col("id_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val st = deg.agg(count(lit(1)).cast("long").as("n_vertices"),
      expr("CAST(sum(d * (d - 1)) AS BIGINT) div 2").as("n_wedges"))
    val ne = e.agg(count(lit(1)).cast("long").as("n_edges"))
    st.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .otherwise(lit(0.0)).as("clustering_coef"))
  }

  /** Leakage-safe target encoding — out-of-fold mean o_totalprice per
    * customer market segment: each fold's encoding averages only the
    * OTHER folds' rows, the standard trick that keeps a high-cardinality
    * categorical feature from memorizing its own label. Folds are
    * [[graft.functions.StableHash]] buckets of o_orderkey (pure function
    * of the key — stable across reruns, partitionings, and engines; the
    * DuckDB oracle recomputes the identical md5-mod assignment). Scale
    * shape: one fact-dimension shuffle join for the segment, ONE
    * combinable (segment, fold) aggregate; the per-segment totals come
    * from re-aggregating those 25 rows, never a second corpus pass; the
    * out-of-fold mean is exact decimal subtraction, divided once in
    * double. */
  def q149_target_encoding(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val base = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        graft.functions.StableHash.bucket(col("o_orderkey"), 5).as("fold"),
        col("o_totalprice"))
    val sf = base.groupBy(col("c_mktsegment"), col("fold"))
      .agg(sum(dec(col("o_totalprice"))).as("sum_sf"),
        count(lit(1)).cast("long").as("n_sf"))
    val s = sf.groupBy(col("c_mktsegment"))
      .agg(sum(col("sum_sf")).as("sum_s"),
        sum(col("n_sf")).cast("long").as("n_s"))
    sf.join(broadcast(s), "c_mktsegment")
      .select(col("c_mktsegment"), col("fold"),
        col("n_sf").as("n_rows"),
        when(col("n_s") > col("n_sf"),
          round((col("sum_s") - col("sum_sf")).cast("double") /
            (col("n_s") - col("n_sf")).cast("double"), 6))
          .as("oof_mean"))
      .orderBy(col("c_mktsegment"), col("fold"))
  }

  /** Top supplier by quarterly revenue — the TPC-H Q15 shape: revenue
    * per supplier over one quarter, then the argmax WITHOUT a global
    * sort or window: a one-row max aggregate broadcast back and matched
    * by exact DECIMAL equality (doubles here could drop a tied winner
    * on a last-ulp difference; decimals cannot). Scale shape: the date
    * filter pushes to the scan, revenue is one combinable aggregate on
    * l_suppkey, and the equality probe broadcasts the provably-tiny
    * winner set against the supplier dimension. */
  def q150_top_supplier(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >=
          lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") <
          lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .as("total_revenue"))
    val winners = rev.join(
      broadcast(rev.agg(max(col("total_revenue")).as("max_rev"))),
      col("total_revenue") === col("max_rev"))
    Tables.supplier(spark, dir)
      .join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Customer order-count distribution — the TPC-H Q13 shape: how many
    * customers placed 0, 1, 2, … non-urgent orders. The LEFT OUTER join
    * keeps zero-order customers (the mass an inner join silently drops
    * — the classic Q13 trap); `count(o_orderkey)` skips the null rows
    * the outer join manufactures, so they land in the 0 bucket. Scale
    * shape: one customer⋈orders shuffle on custkey, one combinable
    * per-customer count, then a histogram over at-most-max-orders
    * distinct counts — bounded output regardless of corpus size. */
  def q151_order_count_dist(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).cast("long").as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).cast("long").as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Late-fulfillment priority profile — the TPC-H Q4 shape: orders per
    * priority having AT LEAST ONE lineitem shipped more than 90 days
    * after the order date. The EXISTS is a LEFT SEMI join (equi on
    * orderkey + the cross-side date predicate), so each order is
    * counted once no matter how many late lineitems it has — a plain
    * inner join would double-count and a `distinct` repair would pay a
    * second shuffle. Scale shape: one orderkey-partitioned semi-join;
    * the date arithmetic is exact interval math on both engines. */
  def q152_late_orders(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Sole-late-supplier ranking — the TPC-H Q21 shape: suppliers whose
    * lineitem shipped late (>60 days after the order date) in a
    * MULTI-supplier order where NO other supplier was late — the
    * "single point of failure" audit. One EXISTS (another supplier
    * participated) and one NOT EXISTS (another supplier was also late)
    * against the same fact, spelled as a LEFT SEMI then a LEFT ANTI
    * self-join — both equi-shuffles on l_orderkey whose per-order group
    * is basket-sized (~7 rows), so neither can explode. The supplier
    * name join is a broadcast dimension probe; top-10 is
    * TakeOrderedAndProject with a full (count, name) tie-break. */
  def q153_sole_late_supplier(spark: SparkSession, dir: String): DataFrame = {
    val tagged = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"))
    val late1 = tagged.filter(col("late"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val others = tagged
      .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"),
        col("late").as("late2"))
    val sole = late1
      .join(others,
        col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(others,
        col("ok") === col("ok2") && col("sk") =!= col("sk2") && col("late2"),
        "left_anti")
    sole.groupBy(col("sk"))
      .agg(count(lit(1)).cast("long").as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("sk") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(10)
  }

  /** A/B conversion z-test — users split into two arms by
    * [[graft.functions.StableHash]] (the same engine-portable md5-mod
    * as the q99 splits, so assignment is reproducible and
    * oracle-recomputable), conversion = any high-value purchase
    * (value ≥ 100), and the two-proportion pooled z-statistic decides
    * significance. The degenerate pools (0% or 100% conversion) yield
    * NULL rather than a NaN that differs between engines. Scale shape:
    * one per-user combinable aggregate, then ONE one-row conditional
    * aggregate — the entire test is two map-side-combinable passes,
    * no joins at all. */
  def q154_ab_test(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") >= 100, 1).otherwise(0)).as("conv"))
      .select(graft.functions.StableHash.bucket(col("user_id"), 2).as("arm"),
        col("conv"))
    val s = u.agg(
      sum(when(col("arm") === 0, 1).otherwise(0)).cast("long").as("n_a"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0)).cast("long")
        .as("conv_a"),
      sum(when(col("arm") === 1, 1).otherwise(0)).cast("long").as("n_b"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0)).cast("long")
        .as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val z = (pa - pb) /
      sqrt(pp * (lit(1) - pp) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    s.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
      when(col("conv_a") + col("conv_b") > 0 &&
        col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
        round(z, 6)).as("z_score"))
  }

  /** Quantile-normalization map — per-event-type deciles against the
    * global deciles: the lookup table that maps one source's score
    * distribution onto the corpus distribution (rank-based feature
    * normalization without a per-row window). Scale shape: two exact
    * percentile aggregates (per-type and global — `approx_percentile`
    * is the documented 100 TB swap, q61-gated), a broadcast of the
    * one-row global cuts, and a 9-way posexplode of bounded arrays —
    * output is #types × 9 rows regardless of corpus size. */
  def q155_quantile_norm(spark: SparkSession, dir: String): DataFrame = {
    val probs = "array(0.1d,0.2d,0.3d,0.4d,0.5d,0.6d,0.7d,0.8d,0.9d)"
    val t = Tables.events(spark, dir).groupBy(col("event_type"))
      .agg(expr(s"percentile(value, $probs)").as("cuts"))
    val g = Tables.events(spark, dir)
      .agg(expr(s"percentile(value, $probs)").as("gcuts"))
    t.crossJoin(broadcast(g))
      .select(col("event_type"), posexplode(col("cuts")).as(Seq("pos", "cut")),
        col("gcuts"))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("decile"),
        round(col("cut"), 6).as("type_cut"),
        round(element_at(col("gcuts"), (col("pos") + 1).cast("int")), 6)
          .as("global_cut"))
      .orderBy(col("event_type"), col("decile"))
  }

  /** Kaplan–Meier time-to-conversion — survival curve for
    * signup→first-purchase: S(t) = Π (1 − dᵢ/nᵢ) over event days, with
    * users who never purchase right-censored at the end of observation.
    * The standard estimator for "how long until users convert" that a
    * naive mean-of-converted-durations biases badly. Duration math is
    * exact integer microseconds (`unix_micros`/`epoch_us` — engine-
    * identical floor division, no fractional-epoch drift); the product
    * runs in log space with a zero-ratio guard (ln(0) aborts DuckDB and
    * nulls Spark — survival pins to exactly 0.0 instead). Scale shape:
    * per-user firsts are combinable aggregates; the curve itself lives
    * on the bounded day series, so the only unpartitioned window sorts
    * #distinct-days rows — same discipline as the q141 spine. */
  def q156_survival(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts_s"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu_id"), col("ts").as("ts_pe"))
    val fp = su.join(pu,
        col("pu_id") === col("user_id") && col("ts_pe") >= col("ts_s"),
        "left_outer")
      .groupBy(col("user_id"), col("ts_s")).agg(min(col("ts_pe")).as("ts_p"))
    val mx = ev.agg(max(col("ts")).as("ts_max"))
    val dur = fp.crossJoin(broadcast(mx))
      .select(
        expr("(unix_micros(coalesce(ts_p, ts_max)) - unix_micros(ts_s)) div 86400000000")
          .as("day"),
        when(col("ts_p").isNotNull, 1).otherwise(0).as("ev"))
    val n = dur.agg(count(lit(1)).cast("long").as("n_total"))
    val daily = dur.groupBy(col("day"))
      .agg(sum(col("ev")).cast("long").as("d"),
        sum(lit(1) - col("ev")).cast("long").as("c"))
    val wPrev = W.orderBy(col("day")).rowsBetween(W.unboundedPreceding, -1)
    val wCur = W.orderBy(col("day")).rowsBetween(W.unboundedPreceding, 0)
    daily.crossJoin(broadcast(n))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .withColumn("ratio", lit(1) - col("d").cast("double") / col("n_risk"))
      .withColumn("min_ratio", min(col("ratio")).over(wCur))
      .withColumn("logsum",
        sum(log(when(col("ratio") > 0, col("ratio")).otherwise(lit(1))))
          .over(wCur))
      .filter(col("d") > 0)
      .select(col("day"), col("n_risk"), col("d").as("d_events"),
        when(col("min_ratio") <= 0, lit(0.0))
          .otherwise(round(exp(col("logsum")), 6)).as("survival"))
      .orderBy(col("day"))
  }

  /** Cumulative unique users per day — growth accounting without a
    * distinct-over-window: each user is reduced to their FIRST active
    * day (one combinable aggregate), and the running total is a plain
    * cumulative sum over the bounded day series. The naive
    * `count(distinct) OVER (ORDER BY day)` spelling re-scans every
    * prior day's users per day — quadratic and unsupported by most
    * engines; dedup-then-cumsum is the scale-correct identity. Day
    * indexing is the q133 convention (integer ms since corpus t0). */
  def q157_cumulative_uniques(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
    val t0 = ev.agg(min(col("ms")).as("t0"))
    val firstDay = ev.crossJoin(broadcast(t0))
      .select(col("user_id"),
        floor((col("ms") - col("t0")) / lit(86400000.0)).cast("long").as("d"))
      .groupBy(col("user_id")).agg(min(col("d")).as("day"))
    firstDay.groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("n_new"))
      .withColumn("cum_unique",
        sum(col("n_new")).over(
          W.orderBy(col("day")).rowsBetween(W.unboundedPreceding, 0))
          .cast("long"))
      .orderBy(col("day"))
  }

  /** CUSUM change-point scan — cumulative sum of daily-volume
    * deviations from the global mean; the |S_t| peak marks the most
    * likely mean-shift day (Page's classic detector, the batch
    * pre-check behind drift alarms like the streaming KL monitor).
    * Top-5 peak days reported with a deterministic (|S|, day)
    * tie-break. Scale shape: the corpus collapses to #days counts in
    * one combinable aggregate; mean is exact (long sums); the
    * sequential CUSUM is a window over the bounded day series and the
    * top-5 is a TakeOrdered heap. */
  def q158_cusum_changepoint(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir).select(unix_millis(col("ts")).as("ms"))
    val t0 = ev.agg(min(col("ms")).as("t0"))
    val daily = ev.crossJoin(broadcast(t0))
      .select(floor((col("ms") - col("t0")) / lit(86400000.0)).cast("long")
        .as("day"))
      .groupBy(col("day")).agg(count(lit(1)).cast("long").as("x"))
    val stats = daily.agg(avg(col("x")).as("mu"),
      count(lit(1)).cast("long").as("n_days"))
    daily.crossJoin(broadcast(stats))
      .withColumn("s",
        sum(col("x").cast("double") - col("mu")).over(
          W.orderBy(col("day")).rowsBetween(W.unboundedPreceding, 0)))
      .select(col("day"), col("x"), round(col("s"), 6).as("cusum"),
        round(abs(col("s")), 6).as("abs_cusum"),
        round(col("mu"), 6).as("mean_daily"), col("n_days"))
      .orderBy(col("abs_cusum").desc, col("day").asc)
      .limit(5)
  }

  /** Table-statistics profile — the ANALYZE-style per-column summary a
    * cost-based optimizer feeds on: null count, exact distinct count,
    * and integer min/max for the key columns of `lineitem`, in ONE
    * aggregate pass. Multiple exact count-distincts expand the input
    * (Spark's Expand: one replica per distinct column) — the documented
    * 100 TB swap is `approx_count_distinct` (HLL, q61-gated), which
    * collapses the pass to plain combinable sketches. The wide one-row
    * aggregate unpivots to long form via `stack`, so output is
    * #profiled-columns rows regardless of corpus size. */
  def q159_table_profile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def nulls(c: String) =
      sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"nul_$c")
    def nd(c: String) = count_distinct(col(c)).cast("long").as(s"nd_$c")
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_returnflag", "l_shipdate")
    val intCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val ag = li.agg(count(lit(1)).cast("long").as("n_rows"),
      (cols.map(nulls) ++ cols.map(nd) ++
        intCols.map(c => min(col(c)).cast("long").as(s"min_$c")) ++
        intCols.map(c => max(col(c)).cast("long").as(s"max_$c"))): _*)
    val stackArgs = cols.map { c =>
      val mn = if (intCols.contains(c)) s"min_$c" else "CAST(NULL AS BIGINT)"
      val mx = if (intCols.contains(c)) s"max_$c" else "CAST(NULL AS BIGINT)"
      s"'$c', nul_$c, nd_$c, $mn, $mx"
    }.mkString(", ")
    ag.select(col("n_rows"), expr(
      s"stack(${cols.size}, $stackArgs) AS (col_name, null_count, n_distinct, min_long, max_long)"))
      .select(col("col_name"), col("n_rows"), col("null_count"),
        col("n_distinct"), col("min_long"), col("max_long"))
      .orderBy(col("col_name"))
  }

  /** Fuzzy vocabulary pairs — near-identical categorical values
    * (levenshtein ≤ 2) among DISTINCT part names, the dirty-dimension
    * cleanup behind "cold bolt"/"old bolt" merge candidates. The scale
    * discipline is dictionary-first: the corpus pays ONE combinable
    * frequency aggregate; the edit-distance join runs on the distinct
    * value dictionary (Heaps-law bounded — 64 names here at every SF),
    * blocked on the head noun so even the dictionary never goes
    * all-pairs. Levenshtein on the corpus rows directly would be
    * O(rows²·len²) — the classic fuzzy-join mistake. */
  def q160_fuzzy_vocab_pairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.part(spark, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).cast("long").as("freq"))
      .withColumn("blk", expr("split_part(p_name, ' ', 2)"))
    val a = d.select(col("p_name").as("name_a"), col("freq").as("freq_a"),
      col("blk"))
    val b = d.select(col("p_name").as("name_b"), col("freq").as("freq_b"),
      col("blk"))
    a.join(b, "blk").filter(col("name_a") < col("name_b"))
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .filter(col("lev") <= 2)
      .select(col("name_a"), col("name_b"), col("lev").cast("long").as("lev"),
        col("freq_a"), col("freq_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Top event trigram paths — the most common 3-step behavioral
    * sequences (per-user, time-ordered), the path-mining pass behind
    * funnel discovery; q135's Markov matrix sees only bigram
    * transitions and misses third-order structure. Scale shape: the
    * lead-window partitions on user_id (high-cardinality, per-user
    * event counts bounded), the trigram aggregate is combinable over
    * ≤|types|³ groups, and the top-10 is a TakeOrdered heap with a
    * full (count, path) tie-break. (user_id, ts) is collision-free in
    * this data, so sequence order is unambiguous. */
  def q161_event_paths(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("step2", lead(col("event_type"), 1).over(W))
      .withColumn("step3", lead(col("event_type"), 2).over(W))
      .filter(col("step3").isNotNull)
      .select(col("event_type").as("step1"), col("step2"), col("step3"))
      .groupBy(col("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).cast("long").as("n_paths"))
      .orderBy(col("n_paths").desc, col("step1"), col("step2"), col("step3"))
      .limit(10)
  }

  /** Higher-moment profile — mean, SD, skewness, excess kurtosis of
    * `value` per event type, from EXACT integer power sums: values are
    * 2-decimal by contract, so each becomes an exact centi-unit long
    * and the power sums accumulate in DECIMAL(38,0) — order-independent
    * and engine-identical where raw double power sums would drift per
    * partitioning (and long ones overflow at value⁴ ≥ 9.2e18). The
    * final moment formulas run once per group on exact inputs, spelled
    * identically in the oracle; skew/kurtosis are unit-free so the
    * centi scaling cancels. Scale shape: ONE combinable aggregate over
    * the corpus; the moment algebra touches #types rows. */
  def q162_moment_profile(spark: SparkSession, dir: String): DataFrame = {
    val iv = expr("CAST(round(value * 100) AS BIGINT)")
    // DECIMAL(9,0) base: centi-values are ≤6 digits by contract, and the
    // width keeps every product ≤38 digits on BOTH engines (DuckDB errors
    // past 38 where Spark merely caps)
    val d1 = expr("CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(9,0))")
    val g = Tables.events(spark, dir)
      .select(col("event_type"), iv.as("iv"), d1.as("d1"))
      .withColumn("d2", col("d1") * col("d1"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("d1")).as("s1"), sum(col("d2")).as("s2"),
        // widen d2 before multiplying: DuckDB computes same-width decimal
        // products in int64 and overflows; the cast forces the wide path
        // on both engines (values stay exact integers either way)
        sum(col("d2").cast("decimal(19,0)") * col("d1")).as("s3"),
        sum(col("d2").cast("decimal(19,0)") * col("d2")).as("s4"))
    g.select(col("event_type"), col("n"),
      expr("round((CAST(s1 AS DOUBLE)/n)/100, 6)").as("mean"),
      expr("round(sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))/100, 6)")
        .as("sd"),
      expr("""round((CAST(s3 AS DOUBLE)/n - 3*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n) + 2*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
          / pow(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n), 1.5), 6)""")
        .as("skewness"),
      expr("""round((CAST(s4 AS DOUBLE)/n - 4*(CAST(s1 AS DOUBLE)/n)*(CAST(s3 AS DOUBLE)/n) + 6*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n) - 3*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
          / ((CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))*(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))) - 3, 6)""")
        .as("kurtosis"))
      .orderBy(col("event_type"))
  }

  /** Queue-backlog accounting — per-supplier shipping backlog via the
    * Lindley reflection: backlog_t = max(0, backlog_{t-1} + x_t) has
    * the closed form S_t − min(0, min_{i≤t} S_i) over the prefix sums,
    * turning a sequential recursion into two windows. Daily net flow is
    * that day's shipped quantity minus the supplier's own mean daily
    * rate — and the whole recursion runs SCALED BY n (the supplier's
    * day count), so x_t·n = q_t·n − Σq stays exact decimal end to end:
    * no mean division inside the recursion, no float drift, exact
    * backlog>0 day counts. Scale shape: one (supplier, day) combinable
    * aggregate, windows partitioned per supplier over day series
    * bounded by the calendar, one final per-supplier aggregate. */
  def q163_backlog_lindley(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val ev = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), unix_millis(col("l_shipdate")).as("ms"),
        col("l_quantity"))
    val t0 = ev.agg(min(col("ms")).as("t0"))
    val daily = ev.crossJoin(broadcast(t0))
      .select(col("l_suppkey"),
        floor((col("ms") - col("t0")) / lit(86400000.0)).cast("long")
          .as("day"),
        col("l_quantity"))
      .groupBy(col("l_suppkey"), col("day"))
      .agg(sum(dec(col("l_quantity"))).as("q"))
    val wSupp = W.partitionBy(col("l_suppkey"))
    val wCum = wSupp.orderBy(col("day"))
      .rowsBetween(W.unboundedPreceding, 0)
    daily
      .withColumn("n_days", count(lit(1)).over(wSupp).cast("long"))
      .withColumn("s_total", sum(col("q")).over(wSupp))
      // scaled net flow: y = q·n − Σq (exact decimal; mean never divided)
      .withColumn("y", col("q") * col("n_days") - col("s_total"))
      .withColumn("cum", sum(col("y")).over(wCum))
      .withColumn("runmin", min(col("cum")).over(wCum))
      .withColumn("scaled",
        col("cum") - least(lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 2)), col("runmin")))
      .groupBy(col("l_suppkey"), col("n_days"))
      .agg(
        // divisions in double only — decimal division scales differ
        // between engines; the numerators are exact decimals
        round(max(col("scaled")).cast("double") / col("n_days"), 6)
          .as("max_backlog"),
        round(expr("CAST(max_by(scaled, day) AS DOUBLE)") / col("n_days"), 6)
          .as("end_backlog"),
        sum(when(col("scaled") > 0, 1).otherwise(0)).cast("long")
          .as("n_backlog_days"))
      .orderBy(col("l_suppkey"))
  }

  /** Regional revenue share — contribution analysis: each nation's
    * revenue share of its region, rank, and the Pareto cumulative
    * share, the ratio-to-report window family every BI layer needs.
    * Revenue is exact decimal; shares divide once into double at the
    * end; the Pareto ordering tie-breaks on nation name so equal
    * revenues cannot reorder between engines. Scale shape: the corpus
    * collapses to ≤25 (region, nation) rows in one combinable
    * aggregate before any window runs — the windows sort bounded
    * dimension-sized groups, never data rows. */
  def q164_revenue_share(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val nat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .as("rev"))
    val wReg = W.partitionBy(col("r_name"))
    val wPareto = wReg.orderBy(col("rev").desc, col("n_name"))
      .rowsBetween(W.unboundedPreceding, 0)
    rev
      .withColumn("region_total", sum(col("rev")).over(wReg))
      .withColumn("cum_rev", sum(col("rev")).over(wPareto))
      .select(col("r_name"), col("n_name"),
        col("rev").cast("double").as("revenue"),
        round(col("rev").cast("double") / col("region_total").cast("double"), 6)
          .as("share"),
        rank().over(wReg.orderBy(col("rev").desc, col("n_name")))
          .cast("long").as("rnk"),
        round(col("cum_rev").cast("double") / col("region_total").cast("double"), 6)
          .as("cum_share"))
      .orderBy(col("r_name"), col("rnk"))
  }

  /** DAU/WAU stickiness — daily actives, trailing-7-day actives, and
    * their ratio. Rolling DISTINCT over a window is the trap (most
    * engines refuse it; emulations rescan 7 days of users per day) —
    * the scale-correct identity is: each distinct (user, day)
    * contributes to exactly 7 window-end days, so explode day..day+6,
    * dedup (user, window_day), count. Linear ×7 in user-days, all
    * shuffles on compact ids. Window days past the observation end are
    * dropped; the ramp-up head (windows shorter than 7 days) is kept,
    * as dashboards do. */
  def q165_stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
    val t0 = ev.agg(min(col("ms")).as("t0"),
      max(col("ms")).as("t1"))
    val ud = ev.crossJoin(broadcast(t0))
      .select(col("user_id"),
        floor((col("ms") - col("t0")) / lit(86400000.0)).cast("long")
          .as("day"),
        floor((col("t1") - col("t0")) / lit(86400000.0)).cast("long")
          .as("max_day"))
      .distinct()
    val dau = ud.groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("dau"))
    val wau = ud
      .select(col("user_id"), col("max_day"),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .filter(col("wday") <= col("max_day"))
      .select(col("user_id"), col("wday")).distinct()
      .groupBy(col("wday")).agg(count(lit(1)).cast("long").as("wau"))
    dau.join(wau, col("day") === col("wday"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Revenue Gini coefficient — customer-concentration inequality via
    * the rank formula G = 2·Σ(rᵢ·xᵢ)/(n·Σx) − (n+1)/n on ascending
    * per-customer revenue; ties rank deterministically by custkey so
    * both engines walk the same permutation. Everything up to the
    * final formula is exact decimal (rank·revenue products included).
    * Scale shape: the corpus collapses to per-customer revenue (one
    * combinable aggregate); ranks come from the range-partitioned
    * [[graft.transform.PrefixSum]] running count, so even a
    * hundreds-of-millions-row customer dimension never funnels through
    * one task. */
  def q166_revenue_gini(spark: SparkSession, dir: String): DataFrame = {
    val cr = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    // rank over the CUSTOMER dimension — hundreds of millions of rows at
    // 100 TB, so the position comes from the range-partitioned PrefixSum,
    // never a single-partition sort
    graft.transform.PrefixSum.rowNumber(cr, Nil,
        Seq(col("rev"), col("o_custkey")), "rnk")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("rev")).as("tot"),
        sum(col("rnk").cast("decimal(18,0)") * col("rev")).as("wsum"))
      .select(col("n"), col("tot").cast("double").as("total_rev"),
        round(lit(2.0) * col("wsum").cast("double") /
            (col("n") * col("tot").cast("double")) -
          (col("n").cast("double") + 1) / col("n"), 6).as("gini"))
  }

  /** Readability profile — Flesch reading-ease per source from three
    * regex-count statistics (words = \\S+ runs, sentences = terminal
    * punctuation marks floored at 1/doc, syllables ≈ vowel groups).
    * Counting MATCHES sidesteps the split() trailing-empty divergence
    * between engines — greedy character-class regexes behave
    * identically in Java regex and RE2. Scale shape: three per-row
    * compiled counts summed in one combinable aggregate; the Flesch
    * formula runs once per source on exact long sums. */
  def q167_readability(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .select(col("source"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).as("w"),
        greatest(size(expr("regexp_extract_all(text, '[.!?]', 0)")), lit(1))
          .as("s"),
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).as("y"))
      .groupBy(col("source"))
      .agg(sum(col("w")).cast("long").as("n_words"),
        sum(col("s")).cast("long").as("n_sents"),
        sum(col("y")).cast("long").as("n_syll"))
    g.select(col("source"), col("n_words"), col("n_sents"), col("n_syll"),
      round(lit(206.835) -
        lit(1.015) * (col("n_words").cast("double") / col("n_sents")) -
        lit(84.6) * (col("n_syll").cast("double") / col("n_words")), 6)
        .as("flesch"))
      .orderBy(col("source"))
  }

  /** Order-to-ship latency matrix — p50/p90/max shipping lag in whole
    * days per order priority: the SLA dashboard over the orders⋈lineitem
    * join. Lag is exact integer microsecond floor-division (the q156
    * discipline); percentiles are exact over priority groups
    * (`approx_percentile` is the 100 TB swap, q61-gated). One
    * orderkey-partitioned join, one combinable-ish aggregate per
    * priority — 5 output rows at any scale. */
  def q168_ship_latency(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("prio"),
        expr("(unix_micros(l_shipdate) - unix_micros(o_orderdate)) div 86400000000")
          .as("lag_days"))
    l.groupBy(col("prio"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(expr("percentile(lag_days, 0.5d)"), 6).as("p50"),
        round(expr("percentile(lag_days, 0.9d)"), 6).as("p90"),
        max(col("lag_days")).cast("long").as("max_lag"))
      .orderBy(col("prio"))
  }

  /** LSH threshold tuner — the exact-Jaccard distribution over ALL LSH
    * candidate pairs (threshold 0 keeps every banding collision), binned
    * into ten width-0.1 buckets, with a cumulative from-the-top count so
    * each row reads directly as "pairs surviving at threshold ≥ thr_lo".
    * This is the tuning companion to q27: run it once, pick the knee,
    * set the production threshold. Scale shape: the pair list is
    * LSH-bucketed and skew-capped (never all-pairs); the histogram is
    * one combinable aggregate over it; the cumulative window runs over
    * ≤10 rows. Both engines compute Jaccard as the same IEEE double
    * division, so bin edges agree exactly. */
  def q169_jaccard_histogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(
      Tables.documents(spark, dir), "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.0,
      maxBucket = Some(100))
    val hist = pairs
      .select(least(floor(col("jaccard") * 10).cast("long"), lit(9L)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
    val wTop = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("kept_at_threshold", sum(col("n_pairs")).over(wTop).cast("long"))
      .select(col("bin"), round(col("bin") / 10.0, 1).as("thr_lo"),
        col("n_pairs"), col("kept_at_threshold"))
      .orderBy(col("bin"))
  }

  /** Partition-key advisor — evaluates three candidate layout keys for
    * the events table (event_type, event day, and their composite) in a
    * SINGLE grouping-sets pass, then reduces each candidate to the
    * numbers a layout decision needs: partition count, max/avg rows, and
    * the skew ratio max/avg. The multi-grain aggregate is Spark's Expand
    * + one combinable count — the table is read once for all three
    * candidates, and the advisor aggregate runs over partition-value
    * rows (thousands at most), not data rows. */
  def q170_partition_advisor(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("ev_q170")
    spark.sql(
      """WITH src AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM ev_q170
        |), parts AS (
        |  SELECT event_type, day,
        |    grouping(event_type) AS ge, grouping(day) AS gd,
        |    count(*) AS nrows
        |  FROM src
        |  GROUP BY GROUPING SETS ((event_type), (day), (event_type, day))
        |)
        |SELECT
        |  CASE WHEN ge = 0 AND gd = 1 THEN 'event_type'
        |       WHEN ge = 1 AND gd = 0 THEN 'day'
        |       ELSE 'event_type,day' END AS scheme,
        |  CAST(count(*) AS BIGINT) AS n_partitions,
        |  CAST(sum(nrows) AS BIGINT) AS total_rows,
        |  CAST(max(nrows) AS BIGINT) AS max_rows,
        |  round(CAST(sum(nrows) AS DOUBLE) / count(*), 6) AS avg_rows,
        |  round(CAST(max(nrows) AS DOUBLE) * count(*) / sum(nrows), 6) AS skew
        |FROM parts
        |GROUP BY 1
        |ORDER BY scheme""".stripMargin)
  }

  /** Weekday×hour activity heatmap — the load-pattern matrix behind
    * capacity planning: event count per (ISO weekday, hour), each cell's
    * share of all traffic, and a per-weekday peak-hour flag. Spark's
    * weekday() is 0=Monday, so +1 aligns it with DuckDB's isodow.
    * Scale shape: one combinable count to at most 7×24 = 168 cells;
    * both windows (global share, per-weekday max) run over those 168
    * rows, never over data. */
  def q171_activity_heatmap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = Tables.events(spark, dir)
      .select((expr("weekday(ts)") + 1).cast("long").as("iso_dow"),
        hour(col("ts")).cast("long").as("hr"))
      .groupBy(col("iso_dow"), col("hr"))
      .agg(count(lit(1)).cast("long").as("n"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wDow = Window.partitionBy(col("iso_dow"))
    g.withColumn("share",
        round(col("n").cast("double") / sum(col("n")).over(wAll), 6))
      .withColumn("is_peak", col("n") === max(col("n")).over(wDow))
      .orderBy(col("iso_dow"), col("hr"))
  }

  /** Disjunctive bracket-predicate join — the TPC-H Q19 shape: revenue
    * from lineitems matching any of three correlated (brand, size,
    * quantity) brackets, where each disjunct constrains BOTH join sides.
    * Scale shape: `part` is a broadcast dimension; since Spark 3.x the
    * CNF conversion in predicate pushdown extracts the part-only
    * disjunction (brand/size) to the build side and the quantity
    * disjunction to the lineitem scan, so neither side carries
    * non-matching rows into the join. Revenue is an exact decimal sum
    * per brand (order-independent), cast to double only on output. */
  def q172_bracket_revenue(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val bracket =
      (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 15)) ||
      (col("p_brand") === "Brand#22" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 25)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 40) &&
        col("l_quantity").between(20, 40))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .groupBy(col("p_brand"))
      .agg(sum(dec(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).as("rev"),
        count(lit(1)).cast("long").as("n_items"))
      .select(col("p_brand"), col("rev").cast("double").as("revenue"),
        col("n_items"))
      .orderBy(col("p_brand"))
  }

  /** Lapsed high-balance customers — the TPC-H Q22 shape adapted to this
    * schema: customers whose balance exceeds the positive-balance mean,
    * with NO order in the trailing year, rolled up per nation. The
    * above-mean predicate is division-free (`bal·n > Σbal`, exact
    * decimals both sides) so the threshold cannot flip on a last-ulp
    * double between engines. Scale shape: the threshold is a one-row
    * broadcast; the recency probe is a left-anti join whose right side
    * is date-pruned at the orders scan and projected to o_custkey only;
    * nation is a broadcast dim. */
  def q173_lapsed_customers(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val cut = lit(java.sql.Timestamp.valueOf("2000-08-01 00:00:00"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val pos = cust.filter(col("c_acctbal") > 0)
      .agg(sum(dec(col("c_acctbal"))).as("s"),
        count(lit(1)).cast("decimal(18,0)").as("n"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= cut)
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(pos))
      .filter(dec(col("c_acctbal")) * col("n") > col("s"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).cast("long").as("n_custs"),
        sum(dec(col("c_acctbal"))).cast("double").as("total_bal"))
      .orderBy(col("n_name"))
  }

  /** Returned-item customer ranking — the TPC-H Q10 shape: top-20
    * customers by revenue lost to returns (l_returnflag = 'R') in one
    * quarter, with nation context. Scale shape: the quarter filter
    * pushes to the orders scan and the flag filter to lineitem; the
    * orders⋈lineitem join shuffles on orderkey; customer joins on the
    * aggregated (per-customer) result, not on raw lineitems; nation is
    * broadcast; the top-20 plans as TakeOrderedAndProject with exact
    * decimal revenue and a custkey tie-break. */
  def q174_returned_revenue(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val lo = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
    val hi = lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_custkey"))
    val perCust = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).as("rev"))
    perCust
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("rev").desc, col("c_custkey").asc)
      .limit(20)
      .select(col("c_custkey"), col("c_name"),
        col("rev").cast("double").as("revenue"),
        col("c_acctbal"), col("n_name"))
  }

  /** Bilateral shipping volume — the TPC-H Q7 shape: revenue flowing
    * between two nations (supplier side ↔ customer side, both
    * directions) per ship-year. Scale shape: nation is broadcast twice
    * under different aliases; the symmetric nation-pair predicate sits
    * ABOVE both dimension joins, where Catalyst can still prune each
    * side to the two named nations (the disjunction references one
    * alias per conjunct); the two big joins shuffle on orderkey and
    * suppkey; revenue is an exact decimal sum per (pair, year). */
  def q175_bilateral_volume(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val nA = "NATION_3"; val nB = "NATION_17"
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter(col("n_name").isin(nA, nB))
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter(col("n_name").isin(nA, nB))
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cnk"))
      .select(col("c_custkey"), col("cust_nation"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === nA && col("cust_nation") === nB) ||
        (col("supp_nation") === nB && col("cust_nation") === nA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).as("rev"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        col("rev").cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** National market share — the TPC-H Q8 shape: one nation's share of
    * PROMO-part revenue sold into one region's market, per order-year.
    * The share is a conditional-sum ratio over the SAME aggregate pass
    * (no second scan, no join of two aggregates). Scale shape: part is
    * pre-filtered to the type slice and broadcast; customer routes
    * through its broadcast nation→region chain; both decimal sums are
    * exact, divided as doubles only on output. */
  def q176_market_share(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val target = "NATION_7"
    val promo = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val asiaCust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .join(broadcast(Tables.region(spark, dir)
          .filter(col("r_name") === "ASIA")
          .select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
    val suppNat = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(suppNat, col("l_suppkey") === col("s_suppkey"))
      .withColumn("vol", dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
      .groupBy(col("o_year"))
      .agg(sum(when(col("supp_nation") === target, col("vol"))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("nat_vol"),
        sum(col("vol")).as("tot_vol"))
      .select(col("o_year"),
        col("nat_vol").cast("double").as("nation_volume"),
        col("tot_vol").cast("double").as("total_volume"),
        round(col("nat_vol").cast("double") / col("tot_vol").cast("double"), 6)
          .as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** Promo revenue share — the TPC-H Q14 shape: per ship-month, the
    * percentage of revenue from PROMO-type parts, as a conditional-sum
    * ratio in one aggregate pass. Scale shape: the month filter pushes
    * to the lineitem scan; part is a broadcast dimension carrying only
    * (p_partkey, p_type); exact decimal sums, double division on
    * output rows (one per month). */
  def q177_promo_share(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")))
      .select(col("l_partkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .withColumn("rev", dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
      .groupBy(month(col("l_shipdate")).cast("long").as("ship_month"))
      .agg(sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("promo_rev"),
        sum(col("rev")).as("tot_rev"))
      .select(col("ship_month"),
        col("promo_rev").cast("double").as("promo_revenue"),
        col("tot_rev").cast("double").as("total_revenue"),
        round(lit(100.0) * col("promo_rev").cast("double") /
          col("tot_rev").cast("double"), 6).as("promo_pct"))
      .orderBy(col("ship_month"))
  }

  /** Cluster-canonical selection — the DELETE side of near-dup dedup:
    * within each duplicate family (q54's connected components), keep the
    * longest member (ties to the lowest id) and mark the rest for drop.
    * "Longest survives" is the common production policy: truncated
    * mirrors and boilerplate-stripped copies lose to the full text.
    * Scale shape: the pair list is LSH-bucketed + skew-capped; CC runs
    * on the dup subgraph only; the per-cluster argmax goes through the
    * heap TopKPerKeyExec (k=1, state = #clusters rows) — no window sort
    * over the corpus-sized membership table. */
  def q178_cluster_canonical(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val members = graft.transform.Dedup
      .duplicateClusters(pairs, docs.select(col("doc_id")), "doc_id")
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val canon = graft.plans.TopKPerKey.topKPerKey(members,
        keys = Seq(col("cluster_id")),
        order = Seq(col("n_chars").desc, col("doc_id").asc), k = 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"))
    members.join(canon, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Dedup savings report — what near-dup dedup actually buys, per
    * source: documents dropped, whitespace-tokens saved, bytes saved,
    * and the percentage each represents. The drop set is q178's
    * non-canonical membership (longest-survives policy). Scale shape:
    * identical chain to q178 plus ONE combinable per-source aggregate;
    * token/byte counts are per-row column reads, never a re-shuffle of
    * text. */
  def q179_dedup_savings(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val members = graft.transform.Dedup
      .duplicateClusters(pairs, docs.select(col("doc_id")), "doc_id")
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val canon = graft.plans.TopKPerKey.topKPerKey(members,
        keys = Seq(col("cluster_id")),
        order = Seq(col("n_chars").desc, col("doc_id").asc), k = 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"))
    members.join(canon, "cluster_id")
      .join(docs.select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).as("toks"),
        length(col("text")).cast("long").as("bytes")), "doc_id")
      .withColumn("dropped", col("doc_id") =!= col("canonical_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("dropped"), 1L).otherwise(0L)).cast("long").as("n_dropped"),
        sum(col("toks")).cast("long").as("tokens_total"),
        sum(when(col("dropped"), col("toks")).otherwise(0L)).cast("long")
          .as("tokens_saved"),
        sum(when(col("dropped"), col("bytes")).otherwise(0L)).cast("long")
          .as("bytes_saved"))
      .withColumn("pct_tokens_saved",
        round(lit(100.0) * col("tokens_saved") / col("tokens_total"), 6))
      .orderBy(col("source"))
  }

  /** Mergeable-sketch rollup — Datasketches HLL per (event_type, day)
    * unioned up to per-type distinct users, checked against the exact
    * count with an oracle-pinned error bound. This is the re-aggregation
    * property `approx_count_distinct` (q61) cannot offer: daily sketches
    * persist once and every coarser grain (week, month, all-time) is a
    * cheap union of 2-KB sketches, never a re-scan of events. lgK=14
    * puts the HLL standard error at 0.8%, so the 5% gate is ~6σ. */
  def q180_sketch_rollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("est_u"))
    val exact = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_u"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("exact_u").cast("long").as("exact_users"),
        (abs(col("est_u") - col("exact_u")).cast("double") /
          col("exact_u").cast("double") <= 0.05).as("sketch_ok"))
      .orderBy(col("event_type"))
  }

  /** Join-cardinality estimator — the CBO statistics pass: per-key count
    * histograms on each side predict |L ⋈ R| = Σ_k cntL(k)·cntR(k), the
    * hottest key's pair count, and its share of the output — BEFORE
    * running the join. Three planned joins (one PK-FK, one FK-PK, one
    * many-to-many self-join) in one result. Scale shape: each histogram
    * is a combinable count; the histogram⋈histogram join carries one row
    * per key, never data rows; output is 3 rows. At petabyte key counts
    * the long products upcast to decimal and the histograms swap to
    * count-min (q108) — documented, not needed at these widths. */
  def q181_join_cardinality(spark: SparkSession, dir: String): DataFrame = {
    def hist(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
      df.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
    def est(l: DataFrame, r: DataFrame, name: String): DataFrame =
      l.withColumnRenamed("c", "cl")
        .join(r.withColumnRenamed("c", "cr"), "k")
        .agg(count(lit(1)).cast("long").as("n_matched_keys"),
          sum(col("cl") * col("cr")).cast("long").as("est_rows"),
          max(col("cl") * col("cr")).cast("long").as("max_key_pairs"))
        .select(lit(name).as("join_name"), col("n_matched_keys"),
          col("est_rows"), col("max_key_pairs"),
          round(lit(100.0) * col("max_key_pairs") / col("est_rows"), 6)
            .as("skew_pct"))
    val ordK = hist(Tables.orders(spark, dir), col("o_orderkey"))
    val liK = hist(Tables.lineitem(spark, dir), col("l_orderkey"))
    val custK = hist(Tables.customer(spark, dir), col("c_custkey"))
    val ordC = hist(Tables.orders(spark, dir), col("o_custkey"))
    val evU = hist(Tables.events(spark, dir), col("user_id"))
    est(ordK, liK, "orders_lineitem")
      .unionByName(est(custK, ordC, "customer_orders"))
      .unionByName(est(evU, evU, "events_self_user"))
      .orderBy(col("join_name"))
  }

  /** Bloom runtime-filter gate — measures what the q70-style semi-join
    * pre-prune actually delivers: a filter built over one quarter's
    * order keys probes every lineitem, and the result pins (a) zero
    * false negatives — bloom-passed ⊇ exact matches, the property that
    * makes the prune SAFE — and (b) the false-positive leak under 5% of
    * non-matching rows (filter built at 1% fpp). Counts are exact and
    * oracle-checked; booleans are oracle-pinned. Deterministic: bloom
    * insertion is commutative bit-OR, so partition order cannot change
    * the filter. Scale shape: the filter rides to executors as one
    * referenced object; both probe and semi-join are one pass each. */
  def q182_bloom_gate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomMightContainLong
    val lo = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
    val hi = lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00"))
    val keys = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"))
    val nKeys = keys.count() // small-side sizing pass, same as q70
    val bloom = BloomMightContainLong.buildOverHashes(keys, col("o_orderkey"),
      expectedItems = nKeys)
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"))
    val passed = li
      .filter(BloomMightContainLong.mightContain(xxhash64(col("l_orderkey")), bloom))
      .agg(count(lit(1)).as("n_passed"))
    val matched = li.join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("n_matched"))
    val total = li.agg(count(lit(1)).as("n_total"))
    passed.crossJoin(broadcast(matched)).crossJoin(broadcast(total))
      .select(lit(nKeys).cast("long").as("n_filter_keys"),
        col("n_total").cast("long").as("n_total_rows"),
        col("n_matched").cast("long").as("n_matched_rows"),
        (col("n_passed") >= col("n_matched")).as("no_false_negatives"),
        ((col("n_passed") - col("n_matched")).cast("double") <=
          lit(0.05) * (col("n_total") - col("n_matched")).cast("double") + 100.0)
          .as("fpr_ok"))
  }

  /** Prefix-filtering set-similarity join (AllPairs/PPJoin family) — the
    * EXACT, non-probabilistic counterpart to q27's MinHash at the same
    * threshold and shingle universe: two 3-shingle sets with Jaccard
    * ≥ 0.5 MUST share one of each other's rarest-shingle prefixes
    * (length n − ⌈n/2⌉ + 1 under a global rarity order), so only
    * prefix collisions are verified — no banding, no false negatives.
    * The ceil is spelled in integer arithmetic ((n+1) div 2) so the
    * prefix bound cannot shorten on a last-ulp double. Scale shape: the
    * rarity order means boilerplate-shingle buckets never form (a
    * common shingle is only in the prefix of a doc with almost nothing
    * rarer); the per-doc rank window partitions on doc_id (high
    * cardinality); candidate verification ships only candidate pairs'
    * sorted arrays through the codegen'd merge-walk JaccardSim. */
  def q183_prefix_join(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fan + pin: the shingle frame feeds the df pass, the prefix explode
    // and BOTH verify sides — unpinned it re-ran the 1-task shingle
    // kernel four times (guide §2.5/§1.2; fan no-ops at corpus scale)
    val d = Tables.fan(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        array_sort(TextOps.shingles(col("text"), 3)).as("sg"))
      .withColumn("ns", size(col("sg")))
      .filter(col("ns") > 0)
      .localCheckpoint(true)
    val gf = d.select(explode(col("sg")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("c"), col("g"))
    val pref = d.select(col("doc_id"), col("ns"), explode(col("sg")).as("g"))
      .join(gf, "g")
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= expr("ns - ((ns + 1) div 2) + 1"))
      .select(col("doc_id"), col("ns"), col("g"))
    val a = pref.select(col("doc_id").as("id_a"), col("ns").as("na"), col("g"))
    val b = pref.select(col("doc_id").as("id_b"), col("ns").as("nb"), col("g"))
    val cand = a.join(b, Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        col("na") * 2 >= col("nb") && col("nb") * 2 >= col("na"))
      .select(col("id_a"), col("id_b")).distinct()
    val sa = d.select(col("doc_id").as("id_a"), col("sg").as("set_a"))
    val sb = d.select(col("doc_id").as("id_b"), col("sg").as("set_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        graft.functions.JaccardSim.jaccardSimSorted(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** MinHash-LSH recall audit — q27's probabilistic pair set measured
    * against q183's exact prefix-join ground truth at the same
    * threshold and shingle universe: the recall number that tells you
    * what the 16×4 banding actually buys (theory: ~64% detection AT
    * j = 0.5, >99.9% at j = 0.8 — the aggregate recall depends on where
    * the corpus's true pairs sit). Closes the LSH-quality loop the way
    * q49 closes IVF's and q102 closes the sketch-accuracy one. Both
    * counts are one-row aggregates; LSH-found ⊆ exact by construction
    * (LSH verifies candidates with the same exact Jaccard), which the
    * subset boolean pins. */
  def q184_lsh_recall(spark: SparkSession, dir: String): DataFrame = {
    val exact = q183_prefix_join(spark, dir)
      .agg(count(lit(1)).cast("long").as("n_exact_pairs"))
    val lsh = graft.similarity.MinHashLsh.nearDuplicatePairs(
        Tables.documents(spark, dir), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .agg(count(lit(1)).cast("long").as("n_lsh_pairs"))
    exact.crossJoin(broadcast(lsh))
      .select(col("n_exact_pairs"), col("n_lsh_pairs"),
        round(col("n_lsh_pairs").cast("double") /
          col("n_exact_pairs").cast("double"), 6).as("recall"),
        (col("n_lsh_pairs") <= col("n_exact_pairs")).as("lsh_subset_of_exact"))
  }

  /** Large-quantity orders — the TPC-H Q18 shape: orders whose total
    * line quantity exceeds a threshold, with customer context, top-100
    * by order value. Scale shape: the HAVING side is one combinable
    * decimal sum per orderkey — the filter runs on the aggregate, so
    * only qualifying orderkeys (a tiny set) join back to orders and
    * customer; the top-100 plans as TakeOrderedAndProject with an
    * orderkey tie-break. */
  def q185_big_orders(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") > 150)
    big.join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("total_qty").cast("double").as("total_qty"))
  }

  /** Window-function breadth — the distribution profile of each
    * customer's orders: percent_rank and cume_dist within the
    * customer's price-ordered history, plus cheapest / second-cheapest
    * / priciest via first_value, nth_value, and last_value over an
    * explicit unbounded ROWS frame (the default RANGE frame would stop
    * at the current row and silently change last_value). Scale shape:
    * one window pass partitioned on the high-cardinality customer key;
    * per-partition state is the customer's own orders. */
  def q186_window_profile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir).select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume_dist"),
        first(col("o_totalprice")).over(wf).as("cheapest"),
        nth_value(col("o_totalprice"), 2).over(wf).as("second_cheapest"),
        last(col("o_totalprice")).over(wf).as("priciest"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Derived part-supplier cost relation — the testdata has no partsupp
    * table, so the Q2/Q11/Q16/Q20 family derives one from lineitem: per
    * (partkey, suppkey), supply cost = the cheapest extended price ever
    * quoted. min() over doubles is an exact value passthrough (no
    * arithmetic), so downstream equality joins on the cost are safe.
    * Scale shape: one combinable groupBy over the fact table; on a real
    * cluster this would be a maintained silver table, not a re-derive. */
  private def derivedPartSupp(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(min(col("l_extendedprice")).as("ps_supplycost"))

  /** Min-cost supplier — the TPC-H Q2 shape: for each LARGE part of a
    * given size band, the supplier(s) quoting the minimum derived supply
    * cost, with nation context, top-100 by account balance. The
    * correlated MIN subquery is decorrelated the way a distributed
    * engine should: ONE combinable groupBy-min per partkey and an
    * equality join back, never a per-row re-scan. Scale shape: part
    * filter prunes before the join; supplier/nation dims broadcast;
    * the final top-100 plans as TakeOrderedAndProject. */
  def q187_min_cost_supplier(spark: SparkSession, dir: String): DataFrame = {
    val ps = derivedPartSupp(spark, dir)
    val parts = Tables.part(spark, dir)
      .filter(col("p_type") === "LARGE" && col("p_size").between(10, 20))
      .select(col("p_partkey"), col("p_name"), col("p_size"))
    val costs = ps.join(parts, col("ps_partkey") === col("p_partkey"))
    val minCost = costs.groupBy(col("ps_partkey").as("mk"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    costs.join(minCost,
        col("ps_partkey") === col("mk") && col("ps_supplycost") === col("min_cost"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("p_partkey").asc, col("s_name").asc)
      .limit(100)
  }

  /** Forecast-revenue delta — the TPC-H Q6 shape: revenue that would be
    * gained by eliminating a band of small discounts on low-quantity
    * lineitems in one shipping year. The whole query is one scan with
    * every predicate pushed to parquet and ONE combinable decimal
    * product-sum — the canonical "filter-scan-agg" probe that any
    * column-pruning / predicate-pushdown regression shows up in first.
    * Exact DECIMAL arithmetic on both engines (discount quantized to
    * (4,2)) so the one-row hash can't drift on double association. */
  def q188_forecast_revenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1997 &&
        col("l_discount").between(0.04, 0.06) && col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast("decimal(12,2)") *
            col("l_discount").cast("decimal(4,2)"))
          .cast("double").as("revenue_delta"),
        count(lit(1)).cast("long").as("n_lines"))
  }

  /** Product-line profit — the TPC-H Q9 shape: per supplier-nation and
    * order-year, profit on 'red' parts = revenue minus a derived supply
    * cost (retailprice-proportional, since the testdata has no
    * ps_supplycost). Scale shape: the part filter prunes the fact scan
    * via an equi-join on the pruned part dim (broadcast); orders joins
    * shuffle on orderkey; nation broadcasts; the per-(nation, year)
    * aggregate is combinable decimal. Low-precision decimal staging
    * ((12,2)x(4,2), (12,2)x(4,1)) keeps every intermediate well under
    * precision 38 so Spark and DuckDB agree bit-for-bit. */
  def q189_product_profit(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(12,2)")
    val redParts = Tables.part(spark, dir)
      .filter(col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_retailprice"))
    val profit = Tables.lineitem(spark, dir)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)
          .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"),
        (dec(col("l_extendedprice")) *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")) -
         dec(col("p_retailprice")) * lit(0.5).cast("decimal(2,1)") *
           col("l_quantity").cast("decimal(4,1)"))
          .as("amount"))
    profit.groupBy(col("nation"), col("o_year"))
      .agg(sum(col("amount")).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Important-stock scan — the TPC-H Q11 shape: partkeys whose derived
    * inventory value (from suppliers of the first five nations) exceeds
    * a fraction of the total. The global scalar threshold is ONE one-row
    * aggregate broadcast into the HAVING — never a correlated re-scan —
    * and the fraction compare is integer-decimal (value*1000 > total) so
    * no division touches the predicate. Scale shape: supplier filter is
    * a broadcast semi-join; per-part value is combinable decimal. */
  def q190_important_stock(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .filter(col("s_nationkey") < 5).select(col("s_suppkey"))
    val partVal = Tables.lineitem(spark, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).as("part_value"))
    val total = partVal.agg(sum(col("part_value")).as("total_value"))
    partVal.crossJoin(broadcast(total))
      .filter(col("part_value") * lit(1000) > col("total_value"))
      .select(col("l_partkey"), col("part_value").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey").asc)
  }

  /** Late-shipment priority split — the TPC-H Q12 shape: per line
    * status, how many high- vs low-priority orders had a lineitem
    * shipped more than 60 days after the order date in 1997. Scale
    * shape: one fact-fact equi-join on orderkey (both sides pre-filtered
    * at the scan), then a two-way conditional count — combinable, no
    * window, no second pass. */
  def q191_priority_split(spark: SparkSession, dir: String): DataFrame = {
    val hi = Seq("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1997)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_linestatus"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin(hi: _*), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin(hi: _*), 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** Supplier-diversity census — the TPC-H Q16 shape: per (brand, type,
    * size) of mid-size non-PROMO parts, how many distinct suppliers have
    * ever shipped it, excluding suppliers in deficit (NOT IN as a
    * broadcast anti-join, the decorrelation a distributed engine wants).
    * Scale shape: the distinct-supplier count runs on the derived
    * (partkey, suppkey) pairs — already one row per pair, so
    * countDistinct is a partial-aggregable shuffle on the group key. */
  def q192_supplier_census(spark: SparkSession, dir: String): DataFrame = {
    val deficit = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("bad_supp"))
    val parts = Tables.part(spark, dir)
      .filter(col("p_type") =!= "PROMO" && col("p_size").between(15, 35))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    derivedPartSupp(spark, dir)
      .join(broadcast(deficit), col("ps_suppkey") === col("bad_supp"), "left_anti")
      .join(parts, col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** Dominant-supplier probe — the TPC-H Q20 shape: suppliers who in
    * 1997 shipped more than 30% of the total 1997 volume of some
    * 'small' part — the nested IN/EXISTS chain decorrelated into a
    * per-(part, supplier) share test followed by a LEFT SEMI join onto
    * the supplier dim. The share compare is integer-decimal
    * (qty*10 > 3*total): no division in the predicate. Scale shape:
    * part filter broadcast-prunes the fact scan; per-part totals are a
    * window-free second combinable agg joined back on partkey. */
  def q193_dominant_supplier(spark: SparkSession, dir: String): DataFrame = {
    val smallParts = Tables.part(spark, dir)
      .filter(col("p_name").startsWith("small")).select(col("p_partkey"))
    val shipped = Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1997)
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(12,1)")).as("supp_qty"))
    val partTotal = shipped.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("supp_qty")).as("part_qty"))
    val dominant = shipped.join(partTotal, col("l_partkey") === col("pk"))
      .filter(col("supp_qty") * lit(10) > col("part_qty") * lit(3))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, dir)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  /** Pearson correlation matrix over the four lineitem measures — the
    * feature-screening pass before any modeling. All six pairwise
    * correlations come from ONE combinable aggregate of EXACT decimal
    * power sums (centi-unit integers, the q162 recipe: double power
    * sums drift with partitioning; these cannot), with the r formula
    * applied in double only at the very end on six one-row values.
    * Scale shape: one scan, one combine exchange, zero joins — the
    * plan is identical at 100 TB. */
  def q194_correlation_matrix(spark: SparkSession, dir: String): DataFrame = {
    // centi-unit exact integers; DECIMAL(11,0) base keeps every pairwise
    // product <=38 digits on both engines (DuckDB errors past 38)
    def cv(c: String) =
      expr(s"CAST(CAST(round($c * 100) AS BIGINT) AS DECIMAL(11,0))")
    val vars = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val src = Tables.lineitem(spark, dir).select(
      vars.zipWithIndex.map { case (v, i) => cv(v).as(s"x$i") }: _*)
    // widen before multiplying (q162): forces the wide decimal path in DuckDB
    val aggs =
      Seq(count(lit(1)).cast("long").as("n")) ++
      vars.indices.map(i => sum(col(s"x$i")).as(s"s$i")) ++
      vars.indices.flatMap(i => vars.indices.filter(_ >= i).map { j =>
        sum(col(s"x$i").cast("decimal(19,0)") * col(s"x$j")).as(s"p${i}_$j")
      })
    val sums = src.agg(aggs.head, aggs.tail: _*)
    val pairRows = vars.indices.flatMap(i =>
      vars.indices.filter(_ > i).map { j =>
        struct(lit(vars(i)).as("var_x"), lit(vars(j)).as("var_y"),
          expr(s"""round(
            (CAST(n AS DOUBLE) * CAST(p${i}_$j AS DOUBLE)
              - CAST(s$i AS DOUBLE) * CAST(s$j AS DOUBLE)) /
            sqrt((CAST(n AS DOUBLE) * CAST(p${i}_$i AS DOUBLE)
              - CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE)) *
                 (CAST(n AS DOUBLE) * CAST(p${j}_$j AS DOUBLE)
              - CAST(s$j AS DOUBLE) * CAST(s$j AS DOUBLE))), 6)""").as("r"))
      })
    sums.select(explode(array(pairRows: _*)).as("p"))
      .select(col("p.var_x"), col("p.var_y"), col("p.r"))
      .orderBy(col("var_x"), col("var_y"))
  }

  /** Closed-form OLS — extendedprice ~ quantity + discount fit by the
    * normal equations, the way a distributed engine should run linear
    * regression: ONE combinable pass of exact decimal cross-moments,
    * then a 3×3 Cramer solve in double on the driver-side one-row
    * result. No gradient loop, no per-iteration scan. Coefficients are
    * reported in natural units (price in currency, not centi), plus R².
    * Scale shape: identical to q194 — scan, combine, done. */
  def q195_ols_regression(spark: SparkSession, dir: String): DataFrame = {
    def cv(c: String) =
      expr(s"CAST(CAST(round($c * 100) AS BIGINT) AS DECIMAL(11,0))")
    val sums = Tables.lineitem(spark, dir)
      .select(cv("l_quantity").as("x1"), cv("l_discount").as("x2"),
        cv("l_extendedprice").as("y"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
        sum(col("y")).as("sy"),
        sum(col("x1").cast("decimal(19,0)") * col("x1")).as("sx1x1"),
        sum(col("x2").cast("decimal(19,0)") * col("x2")).as("sx2x2"),
        sum(col("x1").cast("decimal(19,0)") * col("x2")).as("sx1x2"),
        sum(col("x1").cast("decimal(19,0)") * col("y")).as("sx1y"),
        sum(col("x2").cast("decimal(19,0)") * col("y")).as("sx2y"),
        sum(col("y").cast("decimal(19,0)") * col("y")).as("syy"))
    // 3x3 Cramer on doubles — every operand an exact integer-valued sum,
    // every expression spelled identically in the DuckDB oracle
    sums.selectExpr(
      "n",
      """CAST(n AS DOUBLE) AS a11""", "CAST(sx1 AS DOUBLE) AS a12",
      "CAST(sx2 AS DOUBLE) AS a13", "CAST(sx1x1 AS DOUBLE) AS a22",
      "CAST(sx1x2 AS DOUBLE) AS a23", "CAST(sx2x2 AS DOUBLE) AS a33",
      "CAST(sy AS DOUBLE) AS b1", "CAST(sx1y AS DOUBLE) AS b2",
      "CAST(sx2y AS DOUBLE) AS b3", "CAST(syy AS DOUBLE) AS syy")
      .selectExpr("n", "b1", "b2", "b3", "syy", "a11",
        """a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
           + a13*(a12*a23 - a22*a13) AS det""",
        """b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3)
           + a13*(b2*a23 - a22*b3) AS det0""",
        """a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13)
           + a13*(a12*b3 - b2*a13) AS det1""",
        """a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13)
           + b1*(a12*a23 - a22*a13) AS det2""")
      .selectExpr("n", "b1", "b2", "b3", "syy", "a11",
        "det0/det AS c0", "det1/det AS c1", "det2/det AS c2")
      .selectExpr("n",
        "round(c0/100, 6) AS intercept",
        "round(c1, 6) AS beta_quantity",
        "round(c2, 6) AS beta_discount",
        """round(1 - (syy - c0*b1 - c1*b2 - c2*b3)
           / (syy - b1*b1/a11), 6) AS r2""")
  }

  /** Mutual information between document language and source — the
    * redundancy probe that tells a corpus curator whether source is
    * already a language signal (MI ≈ 0 means the two stratifications
    * are independent; NMI = 1 means one determines the other). EXACT
    * joint counts (≤ ǀlangsǀ·ǀsourcesǀ cells), marginals derived from
    * the same cell table — the corpus is scanned ONCE — and the
    * p·ln(p/qr) series summed over the bounded cell table in double
    * (libm ln parity, round 6). */
  def q196_mutual_information(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint(true)
    val byLang = cells.groupBy(col("lang")).agg(sum(col("c")).as("cl"))
    val bySrc = cells.groupBy(col("source")).agg(sum(col("c")).as("cs"))
    val n = cells.agg(sum(col("c")).as("nn"))
    val mi = cells.join(broadcast(byLang), "lang")
      .join(broadcast(bySrc), "source")
      .crossJoin(broadcast(n))
      .agg(sum(expr("""(CAST(c AS DOUBLE)/nn) *
          ln(CAST(c AS DOUBLE)*nn / (CAST(cl AS DOUBLE)*cs))""")
          .cast("decimal(27,12)")).as("mi_d"))
    val hl = byLang.crossJoin(broadcast(n))
      .agg(sum(expr("-(CAST(cl AS DOUBLE)/nn) * ln(CAST(cl AS DOUBLE)/nn)")
        .cast("decimal(27,12)")).as("hl_d"))
    val hs = bySrc.crossJoin(broadcast(n))
      .agg(sum(expr("-(CAST(cs AS DOUBLE)/nn) * ln(CAST(cs AS DOUBLE)/nn)")
        .cast("decimal(27,12)")).as("hs_d"))
    mi.crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .select(round(col("mi_d").cast("double"), 6).as("mi"),
        round(col("hl_d").cast("double"), 6).as("h_lang"),
        round(col("hs_d").cast("double"), 6).as("h_source"),
        round(col("mi_d").cast("double") /
          sqrt(col("hl_d").cast("double") * col("hs_d").cast("double")), 6)
          .as("nmi"))
  }

  /** Exponentially-decayed activity score per event type — the decayed
    * counter behind "recent popularity" ranking: each day's event count
    * weighted by 0.5^(days-ago from the corpus's last day), over a
    * trailing 30-day window. The decay runs in EXACT integer arithmetic
    * (weights are powers of two, applied as 2^(29−ago) on centi-free
    * counts), so partitioning cannot perturb the sum; the single double
    * division by 2^29 happens on the final bounded rows. Scale shape:
    * one (type, day) combinable count, a one-row max-day broadcast, and
    * a ≤types·30-row reduce. */
  def q197_decayed_activity(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("n"))
    val last = daily.agg(max(col("day")).as("last_day"))
    daily.crossJoin(broadcast(last))
      .withColumn("ago", datediff(col("last_day"), col("day")))
      .filter(col("ago") <= 29)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).cast("long").as("n_events_30d"),
        sum(col("n").cast("decimal(19,0)") *
            expr("CAST(pow(2, 29 - ago) AS BIGINT)")).as("wsum"))
      .select(col("event_type"), col("n_events_30d"),
        round(col("wsum").cast("double") / lit(math.pow(2, 29)), 6)
          .as("decayed_count"),
        round(col("wsum").cast("double") / lit(math.pow(2, 29)) /
          col("n_events_30d").cast("double"), 6).as("recency_ratio"))
      .orderBy(col("event_type"))
  }

  /** Spearman rank correlation between daily event volume and daily
    * mean event value — "do busy days skew cheap?" asked the
    * scale-safe way: the corpus collapses to one row per day FIRST
    * (exact count + exact decimal value sum), and the tie-aware average
    * ranks (rank() + (ties−1)/2 — exact .5-multiples carried as
    * DECIMAL(9,1)) plus every cross-moment live on the bounded day
    * series. The final Pearson-on-ranks is double math over one row of
    * exact sums. Windows: over ≤31 day rows, never data. */
  def q198_daily_spearman(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cv"))
      .groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("vol"), sum(col("cv")).as("sv"))
      .withColumn("mean_val", col("sv").cast("double") / col("vol").cast("double"))
    val rk = daily
      .withColumn("rv", (rank().over(Window.orderBy(col("vol"))) +
        (count(lit(1)).over(Window.partitionBy(col("vol"))) - 1) / lit(2.0))
        .cast("decimal(9,1)"))
      .withColumn("rm", (rank().over(Window.orderBy(col("mean_val"))) +
        (count(lit(1)).over(Window.partitionBy(col("mean_val"))) - 1) / lit(2.0))
        .cast("decimal(9,1)"))
    val s = rk.agg(count(lit(1)).cast("long").as("n"),
      sum(col("rv")).as("sx"), sum(col("rm")).as("sy"),
      sum(col("rv") * col("rm")).as("sxy"),
      sum(col("rv") * col("rv")).as("sxx"),
      sum(col("rm") * col("rm")).as("syy"))
    s.selectExpr("n",
      """round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
         sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
              (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) AS spearman""")
  }

  /** Per-cluster silhouette (centroid form) for the spherical k-means
    * of q89 — the cluster-quality gate a curation pipeline runs before
    * trusting cluster-stratified sampling: s = (cos_own − cos_other) /
    * (1 − cos_other) per vector (cosine-distance silhouette against
    * the best competing centroid), aggregated per cluster. Scale
    * shape: centroids broadcast (k rows); per-vector work is one
    * k-wide sorted array fold — no window, no second join; means fold
    * through DECIMAL(27,12). The oracle replays both Lloyd rounds
    * stage-by-stage (q89's machinery) plus the rn=1/rn=2 split. */
  def q199_cluster_silhouette(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.KMeansCosine
    val emb = Tables.embeddings(spark, dir)
    val vh = KMeansCosine.normalized(emb, "vec_id", "embedding")
    val cent = KMeansCosine.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val scored = vh.crossJoin(broadcast(cent))
      .select(col("vec_id"), struct(
        graft.functions.DotProduct.dotProduct(col("v"), col("c")).as("cos"),
        (-col("j")).as("negj")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(reverse(sort_array(collect_list(col("sc")))).as("arr"))
      .select(col("vec_id"),
        (-col("arr")(0).getField("negj")).as("cluster"),
        col("arr")(0).getField("cos").as("own_cos"),
        col("arr")(1).getField("cos").as("other_cos"))
    scored
      .withColumn("sil", (col("own_cos") - col("other_cos")) /
        (lit(1.0) - col("other_cos")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        round(sum(col("sil").cast("decimal(27,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_silhouette"),
        round(min(col("sil")), 6).as("min_silhouette"))
      .orderBy(col("cluster"))
  }

  /** Theil–Sen robust trend per event type — the median pairwise slope
    * of daily volume, the outlier-immune alternative to the OLS trend a
    * monitoring pipeline wants when one incident day would drag a
    * least-squares fit. Scale shape: the corpus collapses to one row
    * per (type, day) FIRST; the pair self-join and the median-by-
    * position window run over the bounded day series (≤31 days →
    * ≤465 pairs per type), never data rows. The median of the two
    * middle positions is exact whatever order ties land in — equal
    * values occupy equal positions. */
  def q200_theilsen_trend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("n"))
    val a = daily.select(col("event_type"), col("day").as("d1"), col("n").as("n1"))
    val b = daily.select(col("event_type").as("et2"), col("day").as("d2"),
      col("n").as("n2"))
    val slopes = a.join(b, col("event_type") === col("et2") && col("d1") < col("d2"))
      .select(col("event_type"),
        ((col("n2") - col("n1")).cast("double") /
          datediff(col("d2"), col("d1")).cast("double")).as("slope"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope"))
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      // integer div: for odd m both positions coincide on the middle; for
      // even m they select the two middles whose average is the median
      .filter(col("rn") === expr("(m + 1) div 2") ||
        col("rn") === expr("(m + 2) div 2"))
      .groupBy(col("event_type"))
      .agg(max(col("m")).cast("long").as("n_pairs"),
        round(avg(col("slope")), 6).as("sen_slope"))
      .withColumn("direction",
        when(col("sen_slope") > 0, "up")
          .when(col("sen_slope") < 0, "down").otherwise("flat"))
      .orderBy(col("event_type"))
  }

  /** BM25 retrieval — Okapi BM25 (k1=1.2, b=0.75) of a pinned 4-query
    * set against the document corpus, top-10 docs per query. The IR
    * scoring operator a retrieval-augmented pipeline runs at corpus
    * scale: per-doc term frequencies and per-term document frequencies
    * are each ONE combinable aggregate; N and avgdl are a one-row
    * broadcast; the query set is a broadcast literal; and the per-query
    * top-10 goes through the heap [[graft.plans.TopKPerKey]], never a
    * corpus-wide window sort. Scores round to 6 BEFORE the heap so a
    * last-ulp ln difference cannot reorder the cut (q86's recipe). */
  def q201_bm25_topk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queryTerms = Seq(
      ("q1", "spark table join"), ("q2", "hash merge sort"),
      ("q3", "fast row scan"), ("q4", "window agg value"))
      .toDF("query_id", "query_text")
      .select(col("query_id"), explode(split(col("query_text"), " ")).as("tok"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("tok"))
    val tf = docs.groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df"))
    val stats = tf.groupBy(col("doc_id")).agg(max(col("dl")).as("dl1"))
      .agg(count(lit(1)).cast("long").as("nd"), sum(col("dl1")).cast("long").as("tl"))
    val scored = tf
      .join(broadcast(queryTerms), "tok")
      .join(broadcast(df_.join(queryTerms.select("tok").distinct(), "tok")), "tok")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        expr("""ln((CAST(nd AS DOUBLE) - df + 0.5d) / (df + 0.5d) + 1.0d) *
          (tf * 2.2d) /
          (tf + 1.2d * (0.25d + 0.75d * dl * CAST(nd AS DOUBLE) / tl))""")
          .as("part_score"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("part_score").cast("decimal(27,12)")).cast("double"), 6)
        .as("score"))
    graft.plans.TopKPerKey.topKPerKey(scored,
        keys = Seq(col("query_id")),
        order = Seq(col("score").desc, col("doc_id").asc), k = 10)
      .select(col("query_id"), col("doc_id"), col("score"))
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
  }

  /** Population-stability index per event type — the standard drift
    * score between the first and second half of the observation window,
    * over ten pre-registered fixed-width value bins (quantile-free, so
    * no cross-engine interpolation enters the bin edges). The full
    * type×bin grid is materialized (sequence-explode of 10 literals ×
    * the bounded type dim) so empty bins contribute their smoothed term
    * instead of silently dropping; counts are exact, the (p−q)·ln(p/q)
    * series is double math over the ≤10-row-per-type grid. */
  def q202_psi_drift(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.events(spark, dir)
      .select(col("event_type"),
        (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("first_half"),
        least(floor(col("value") / 60).cast("long"), lit(9L)).as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("first_half"), 0L).otherwise(1L)).as("c2"))
    val grid = binned.select(col("event_type")).distinct()
      .select(col("event_type"), explode(sequence(lit(0L), lit(9L))).as("bin"))
    val full = grid.join(binned, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
    val tot = full.groupBy(col("event_type"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    full.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("n1"), col("n2"),
        expr("""((c1 + 0.5d)/(n1 + 5.0d) - (c2 + 0.5d)/(n2 + 5.0d)) *
          ln(((c1 + 0.5d)/(n1 + 5.0d)) / ((c2 + 0.5d)/(n2 + 5.0d)))""")
          .as("term"))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).cast("long").as("n_first"),
        max(col("n2")).cast("long").as("n_second"),
        round(sum(col("term").cast("decimal(27,12)")).cast("double"), 6)
          .as("psi"))
      .withColumn("drifted", col("psi") > 0.1)
      .orderBy(col("event_type"))
  }

  /** Adjusted Rand Index + purity — external cluster validation of the
    * q89 spherical k-means against the embeddings' ground-truth labels.
    * ARI's pair-counting sums (Σ C(n_ij,2) and the marginal versions)
    * are EXACT integer arithmetic on the bounded k×ǀlabelsǀ contingency
    * table; only the final expected-index ratio is double. Scale shape:
    * one assignment pass (centroids broadcast), one contingency
    * aggregate, everything after runs on ≤k·labels rows. */
  def q203_rand_index(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.KMeansCosine
    val emb = Tables.embeddings(spark, dir)
    val vh = KMeansCosine.normalized(emb, "vec_id", "embedding")
    val cent = KMeansCosine.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val cont = KMeansCosine.assign(vh, "vec_id", cent)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).cast("long").as("nij"))
      .localCheckpoint(true)
    val cellPairs = cont.agg(
      sum(expr("(nij * (nij - 1)) div 2")).cast("long").as("sum_nij2"),
      sum(col("nij")).cast("long").as("n"),
      countDistinct(col("cluster")).as("k_clusters"),
      countDistinct(col("label")).as("n_labels"))
    val rowPairs = cont.groupBy(col("cluster"))
      .agg(sum(col("nij")).as("ai"), max(col("nij")).as("maxj"))
      .agg(sum(expr("(ai * (ai - 1)) div 2")).cast("long").as("sum_ai2"),
        sum(col("maxj")).cast("long").as("sum_max"))
    val colPairs = cont.groupBy(col("label"))
      .agg(sum(col("nij")).as("bj"))
      .agg(sum(expr("(bj * (bj - 1)) div 2")).cast("long").as("sum_bj2"))
    cellPairs.crossJoin(broadcast(rowPairs)).crossJoin(broadcast(colPairs))
      .selectExpr("n", "k_clusters", "n_labels",
        """round((CAST(sum_nij2 AS DOUBLE)
            - CAST(sum_ai2 AS DOUBLE) * CAST(sum_bj2 AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1) / 2)) /
          ((CAST(sum_ai2 AS DOUBLE) + CAST(sum_bj2 AS DOUBLE)) / 2
            - CAST(sum_ai2 AS DOUBLE) * CAST(sum_bj2 AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1) / 2)), 6) AS ari""",
        "round(CAST(sum_max AS DOUBLE) / CAST(n AS DOUBLE), 6) AS purity")
  }

  /** Funnel conversion latency — first 'view' to first subsequent
    * 'purchase' per user: conversion rate plus exact p50/p90 of the
    * lag in minutes (integer-µs event math; the q168-proven
    * percentile ↔ quantile_cont parity). Scale shape: per-user firsts
    * are ONE combinable conditional aggregate; only converting users'
    * purchase events re-enter the min-after-view join, keyed on the
    * high-cardinality user id; percentiles run over the converted-user
    * lag column. */
  def q204_funnel_latency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("us") > col("v_us"))
      .groupBy(col("user_id")).agg(min(col("us") - col("v_us")).as("lag_us"))
    val nv = firstView.agg(count(lit(1)).cast("long").as("n_viewers"))
    conv.agg(count(lit(1)).cast("long").as("n_converted"),
        round(expr("percentile(lag_us, 0.5d)") / 60000000.0d, 6).as("p50_minutes"),
        round(expr("percentile(lag_us, 0.9d)") / 60000000.0d, 6).as("p90_minutes"))
      .crossJoin(broadcast(nv))
      .select(col("n_viewers"), col("n_converted"),
        round(col("n_converted").cast("double") /
          col("n_viewers").cast("double"), 6).as("conv_rate"),
        col("p50_minutes"), col("p90_minutes"))
  }

  /** Product-quantization codebooks — the ANN-compression prep (Jégou
    * et al., PQ): the 64-dim embedding splits into four 16-dim
    * subspaces, each fitted with its own tiny L2 k-means (k=4, one
    * Lloyd round from first-k init), and the result reports per-
    * (subspace, code) population and mean squared residual — the
    * numbers that size a PQ index before building it. Scale shape: per
    * subspace, centroids are a ≤4-row broadcast, assignment is one
    * k-wide argmin fold per row (d² via three dot products, never an
    * elementwise sum whose order could drift), and the update is the
    * q89 posexplode + exact-decimal mean. The oracle replays every
    * stage per subspace. */
  /** Shared PQ machinery for q205/q210: the L2 d² used everywhere (three
    * dot products — order-stable, never an elementwise fold). */
  private def pqD2 = {
    import graft.functions.DotProduct
    DotProduct.dotProduct(col("x"), col("x")) -
      lit(2.0d) * DotProduct.dotProduct(col("x"), col("c")) +
      DotProduct.dotProduct(col("c"), col("c"))
  }

  /** Raw-double embedding view for the PQ family. */
  private def pqBase(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), CosineKnn.toDouble(col("embedding")).as("v"))

  /** Subspace slice s (16 dims) of the raw vectors. */
  private def pqSlice(base: DataFrame, s: Int): DataFrame =
    base.select(col("vec_id"), slice(col("v"), s * 16 + 1, 16).as("x"))

  /** One-Lloyd-round L2 codebook (j, c) for subspace s: first-4 init,
    * argmin assignment, exact-decimal mean update. */
  private def pqCodebook(xs: DataFrame): DataFrame = {
    val c0 = xs.orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("j"), col("x").as("c"))
    val a1 = xs.crossJoin(broadcast(c0))
      .select(col("vec_id"), struct(pqD2.as("d2"), col("j")).as("sc"))
      .groupBy(col("vec_id")).agg(min(col("sc")).as("m"))
      .select(col("vec_id"), col("m.j").as("cluster"))
    a1.join(xs, "vec_id")
      .select(col("cluster"), posexplode(col("x")).as(Seq("pos", "xv")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("xv").cast("decimal(27,12)")).as("sm"), count(lit(1)).as("n"))
      .groupBy(col("cluster"))
      .agg(sort_array(collect_list(struct(col("pos"),
        (col("sm").cast("double") / col("n").cast("double")).as("m")))).as("arr"))
      .select(col("cluster").as("j"),
        transform(col("arr"), e => e.getField("m")).as("c"))
      .localCheckpoint(true)
  }

  /** Per-vector code (argmin centroid) plus residual d² vs codebook c1. */
  private def pqAssign(xs: DataFrame, c1: DataFrame): DataFrame =
    xs.crossJoin(broadcast(c1))
      .select(col("vec_id"), struct(pqD2.as("d2"), col("j")).as("sc"))
      .groupBy(col("vec_id")).agg(min(col("sc")).as("m"))
      .select(col("vec_id"), col("m.j").as("code"), col("m.d2").as("d2"))

  def q205_pq_codebooks(spark: SparkSession, dir: String): DataFrame = {
    val base = pqBase(spark, dir)
    def subspace(s: Int): DataFrame = {
      val xs = pqSlice(base, s)
      pqAssign(xs, pqCodebook(xs))
        .groupBy(col("code").as("cluster"))
        .agg(count(lit(1)).cast("long").as("n_vectors"),
          round(sum(col("d2").cast("decimal(27,12)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_d2"))
        .select(lit(s).as("sub"), col("cluster"), col("n_vectors"), col("mean_d2"))
    }
    (0 to 3).map(subspace).reduce(_ unionAll _)
      .orderBy(col("sub"), col("cluster"))
  }

  /** Corpus novelty curve — per ingestion decile (doc_id order as the
    * ingestion proxy), what fraction of documents are the FIRST
    * occurrence of their normalized text: the freshness signal a crawl
    * pipeline tracks to decide when a source is mined out. Exact-dup
    * identity is the q44 normalize→md5 chain, so the curve composes
    * with the dedup family. Scale shape: one groupBy-min for first
    * occurrences, one count-per-decile aggregate; the decile is integer
    * arithmetic on (doc_id·10 div N) — no window, no sort. */
  def q206_novelty_curve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(TextOps.normalize(col("text"))).as("h"))
    val firsts = docs.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.join(firsts, "h").crossJoin(broadcast(n))
      .select(expr("(doc_id * 10) div n_docs").as("decile"),
        (col("doc_id") === col("first_id")).as("novel"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("novel"), 1L).otherwise(0L)).cast("long").as("n_novel"))
      .withColumn("novelty_rate",
        round(col("n_novel").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy(col("decile"))
  }

  /** Shuffle-layout planner — predicts the reduce-side bucket histogram
    * of a 32-partition hash shuffle for three candidate lineitem keys
    * BEFORE running the shuffle: rows per bucket under the engine-
    * portable [[graft.functions.StableHash]] (so the oracle computes
    * identical assignments), used buckets, the hottest bucket, and the
    * max/mean skew ratio against the FIXED 32-bucket denominator (an
    * empty bucket is wasted parallelism and must drag the mean down).
    * The low-cardinality suppkey key shows up immediately as the one
    * that can't use the cluster. Scale shape: one combinable count per
    * key; the advisor aggregate runs over ≤32 rows per key. */
  def q207_shuffle_planner(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    def forKey(name: String): DataFrame =
      Tables.lineitem(spark, dir)
        .select(StableHash.bucket(col(name).cast("string"), 32).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).cast("long").as("cnt"))
        .agg(count(lit(1)).cast("long").as("n_buckets_used"),
          sum(col("cnt")).cast("long").as("n_rows"),
          max(col("cnt")).cast("long").as("max_bucket_rows"))
        .select(lit(name).as("shuffle_key"), col("n_rows"),
          col("n_buckets_used"), col("max_bucket_rows"),
          round(col("n_rows").cast("double") / 32.0d, 6).as("mean_bucket_rows"),
          round(col("max_bucket_rows").cast("double") /
            (col("n_rows").cast("double") / 32.0d), 6).as("skew_ratio"))
    forKey("l_orderkey").unionAll(forKey("l_partkey"))
      .unionAll(forKey("l_suppkey"))
      .orderBy(col("shuffle_key"))
  }

  /** Inverted-index build + conjunctive query — the search-index side
    * of the text stack: per-token sorted postings lists with document
    * frequencies, probed by three two-term AND queries via an order-
    * preserving filter-intersection (identical semantics on both
    * engines, unlike set-intersect builtins whose ordering contracts
    * differ). Scale shape: postings are one combinable collect per
    * token (bounded by the per-token df — at web scale the hot tokens
    * get df-capped exactly like q204's plan notes); each query touches
    * two postings rows, never the corpus. */
  def q208_postings_index(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val post = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text"))))
        .as("tok"))
      .groupBy(col("tok"))
      .agg(sort_array(collect_set(col("doc_id"))).as("postings"))
      .withColumn("df", size(col("postings")).cast("long"))
    val queries = Seq(("spark", "table"), ("hash", "merge"), ("window", "value"))
      .toDF("term_a", "term_b")
    queries
      .join(post.select(col("tok").as("term_a"), col("postings").as("pa"),
        col("df").as("df_a")), "term_a")
      .join(post.select(col("tok").as("term_b"), col("postings").as("pb"),
        col("df").as("df_b")), "term_b")
      .select(col("term_a"), col("term_b"), col("df_a"), col("df_b"),
        filter(col("pa"), x => array_contains(col("pb"), x)).as("both"))
      .select(col("term_a"), col("term_b"), col("df_a"), col("df_b"),
        size(col("both")).cast("long").as("n_both"),
        // CSV, not a raw array: the driver's compare hashes scalar cells
        // (q41's convention)
        array_join(transform(slice(col("both"), 1, 5), x => x.cast("string")),
          ",").as("top5_docs"))
      .orderBy(col("term_a"), col("term_b"))
  }

  /** Quarter-over-quarter revenue growth per nation — the period-over-
    * period reporting shape: exact decimal revenue per (nation,
    * quarter), growth vs the previous quarter via one lag window over
    * the bounded nation×quarter table (≤25·28 rows), NULL for each
    * nation's first quarter rather than a fake zero. Scale shape: dims
    * broadcast; the corpus collapses to the reporting grain before any
    * window runs. */
  def q209_qoq_growth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        date_trunc("quarter", col("o_orderdate")).as("quarter"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val w = Window.partitionBy(col("nation")).orderBy(col("quarter"))
    rev
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("nation"), col("quarter"),
        col("rev").cast("double").as("revenue"),
        round((col("rev").cast("double") - col("prev").cast("double")) /
          col("prev").cast("double") * 100.0d, 6).as("growth_pct"))
      .orderBy(col("nation"), col("quarter"))
  }

  /** PQ recall audit — closes the quality loop on q205 the way q49
    * closes IVF's and q184 closes LSH's, but with a FULL hash-matched
    * oracle: per query (first 20 vectors), the top-10 neighbors under
    * PQ asymmetric distance (query-to-centroid lookup tables, 4 adds
    * per candidate) are compared against the exact L2 top-10 — the
    * recall@10 a PQ deployment actually delivers. Scale shape: the
    * query-side distance table is ǀqueriesǀ·16 rows broadcast; the
    * corpus contributes its 4 codes per vector (the compressed
    * representation — this is the point of PQ); both top-10s run
    * through the heap TopKPerKey, never a corpus-wide window. */
  def q210_pq_recall(spark: SparkSession, dir: String): DataFrame = {
    val base = pqBase(spark, dir)
    val nQ = 20
    // codes + query-to-centroid distance tables, per subspace
    val perSub = (0 to 3).map { s =>
      val xs = pqSlice(base, s)
      val cb = pqCodebook(xs)
      val codes = pqAssign(xs, cb)
        .select(col("vec_id"), lit(s).as("sub"), col("code"))
      val qd = xs.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("x"))
        .crossJoin(broadcast(cb))
        .select(col("query_id"), lit(s).as("sub"), col("j"), pqD2.as("qd2"))
      (codes, qd)
    }
    val codes = perSub.map(_._1).reduce(_ unionAll _)
    val qdist = perSub.map(_._2).reduce(_ unionAll _)
    val ad2 = codes
      .join(broadcast(qdist), codes("sub") === qdist("sub") &&
        codes("code") === qdist("j"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("qd2").cast("decimal(27,12)")).cast("double"), 6)
        .as("ad2"))
    val approx = graft.plans.TopKPerKey.topKPerKey(ad2,
        keys = Seq(col("query_id")),
        order = Seq(col("ad2").asc, col("vec_id").asc), k = 10)
      .select(col("query_id"), col("vec_id"))
    val queries = base.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("v").as("c"))
    val exactPairs = base.select(col("vec_id"), col("v").as("x"))
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), pqD2.as("d2e"))
    val exact = graft.plans.TopKPerKey.topKPerKey(exactPairs,
        keys = Seq(col("query_id")),
        order = Seq(col("d2e").asc, col("vec_id").asc), k = 10)
      .select(col("query_id"), col("vec_id"))
    val overlap = approx.join(exact, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).cast("long").as("n_overlap"))
    queries.select(col("query_id")).join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_at_10",
        round(col("n_overlap").cast("double") / 10.0d, 6))
      .orderBy(col("query_id"))
  }

  /** Dedup-threshold sensitivity curve — the tuning table for the ONE
    * knob that governs the whole near-dup family: at Jaccard cutoffs
    * 0.5 and 0.7, how many duplicate pairs survive, how many clusters
    * they form, the largest cluster, and docs dropped under
    * keep-one-per-cluster. Both rows reuse the same LSH candidate pass
    * (threshold 0 + skew cap) — the corpus is shingled ONCE; each
    * cutoff only re-filters the bounded pair list and re-runs CC on its
    * edge subgraph. */
  def q211_threshold_curve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.0,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"), col("jaccard")).localCheckpoint(true)
    def atThreshold(t: Double): DataFrame = {
      val kept = pairs.filter(col("jaccard") >= t)
        .select(col("id_a"), col("id_b"))
      val members = graft.transform.Dedup
        .duplicateClusters(kept, docs.select(col("doc_id")), "doc_id")
      // dup clusters only (size >= 2): singletons are noise for the curve
      val sizes = members.groupBy(col("cluster_id"))
        .agg(count(lit(1)).cast("long").as("sz"))
        .filter(col("sz") >= 2)
      val stats = sizes.agg(count(lit(1)).cast("long").as("n_clusters"),
        max(col("sz")).cast("long").as("largest_cluster"),
        sum(col("sz") - 1).cast("long").as("n_dropped"))
      val np = kept.agg(count(lit(1)).cast("long").as("n_pairs"))
      np.crossJoin(broadcast(stats))
        .select(lit(t).as("threshold"), col("n_pairs"), col("n_clusters"),
          col("largest_cluster"), col("n_dropped"))
    }
    atThreshold(0.5).unionAll(atThreshold(0.7)).orderBy(col("threshold"))
  }

  /** Top movers — rank-change report between the first and second half
    * of the observation window: among users in either half's top-50 by
    * event volume, the biggest rank gainers and losers. Scale shape:
    * each half collapses to per-user counts (combinable), the two
    * top-50s come from the heap TopKPerKey (k bounds state, no global
    * sort), and the rank join runs on ≤100 rows. Absent-in-one-half
    * users rank as 51 (just off the board) so movement is defined for
    * entrants and dropouts. */
  def q212_top_movers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("h1"))
    def half(first: Boolean): DataFrame = {
      val counts = ev.filter(col("h1") === first)
        .groupBy(col("user_id")).agg(count(lit(1)).cast("long").as("n"))
      val top = graft.plans.TopKPerKey.topKPerKey(
        counts.withColumn("g", lit(1)),
        keys = Seq(col("g")),
        order = Seq(col("n").desc, col("user_id").asc), k = 50)
      top.select(col("user_id"), col("n"),
        row_number().over(Window.orderBy(col("n").desc, col("user_id").asc))
          .cast("long").as("rk"))
    }
    val a = half(first = true)
      .select(col("user_id"), col("n").as("n_first"), col("rk").as("rk_first"))
    val b = half(first = false)
      .select(col("user_id"), col("n").as("n_second"), col("rk").as("rk_second"))
    a.join(b, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("n_second"), lit(0L)).as("n_second"),
        coalesce(col("rk_first"), lit(51L)).as("rk_first"),
        coalesce(col("rk_second"), lit(51L)).as("rk_second"))
      .withColumn("rank_change", col("rk_first") - col("rk_second"))
      .orderBy(col("rank_change").desc, col("user_id"))
  }

  /** Within-corpus substring-duplication audit (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): per
    * document, what fraction of its distinct word 5-grams also occurs in
    * at least one OTHER document — the span-level memorization-risk
    * signal that whole-doc dedup (q23/q44) and near-dup (q27) both miss,
    * and the within-corpus twin of the q70 train-vs-test decontamination.
    * Scale shape: grams collapse to md5 at the scan so the
    * gram-frequency shuffle carries (hash, doc_id) only; the
    * doc-frequency table is ONE combinable aggregate over per-doc
    * distinct grams (so a doc repeating its own phrase doesn't
    * self-trigger); the join back to exploded grams is the q70 equi-join
    * class. Docs shorter than 5 tokens keep a zero row via the left
    * join — no silent drop. */
  def q213_substring_dup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = docs
      .select(col("doc_id"), explode(TextOps.shingles(col("text"), 5)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
    val df = grams.groupBy(col("gh"))
      .agg(count(lit(1)).cast("long").as("nd"))
    val per = grams.join(df, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("g_all"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("long").as("g_dup"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("g_all"), lit(0L)).as("n_grams"),
        coalesce(col("g_dup"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        round(when(col("n_grams") > 0,
          col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0d)), 6))
      .orderBy(col("doc_id"))
  }

  /** K-center greedy coreset (farthest-point sampling; Sener & Savarese
    * 2018 active-learning coresets) — the diversity-first subset
    * selector that complements quality-first q115 and stratified q106:
    * seed with vec_id 0, then 7 times pick the vector farthest (L2) from
    * everything chosen so far. Scale shape: the state is one
    * (vec_id, v, d2min) table updated per round with `least` against the
    * SINGLE new center (a broadcast literal — never a growing center
    * join), so each of the k rounds is one scan + one max(struct) agg;
    * localCheckpoint truncates the k-deep lineage exactly like the CC
    * rounds. Driver holds k ids — bounded by construction, the IVF
    * training-sample pattern. Ordering uses UNROUNDED doubles (bitwise
    * identical to the oracle's dot-product identities); rounding happens
    * only at emission. */
  def q214_kcenter_coreset(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.DotProduct
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val k = 8
    val base = pqBase(spark, dir)
    def d2To(cLit: org.apache.spark.sql.Column) =
      DotProduct.dotProduct(col("v"), col("v")) -
        lit(2.0d) * DotProduct.dotProduct(col("v"), cLit) +
        DotProduct.dotProduct(cLit, cLit)
    def centerLit(id: Long) = {
      val vec = base.filter(col("vec_id") === id).select(col("v"))
        .head().getSeq[Double](0)
      array(vec.map(lit): _*)
    }
    var centerId = 0L
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Double])]()
    picked += ((0L, centerId, None))
    var state = base
      .select(col("vec_id"), col("v"), d2To(centerLit(centerId)).as("d2min"))
      .localCheckpoint(true)
    for (i <- 1 until k) {
      val chosen = picked.map(_._2).toSeq
      val top = state.filter(!col("vec_id").isin(chosen: _*))
        .agg(max(struct(col("d2min").as("d"), (-col("vec_id")).as("nid"))).as("m"))
        .select(col("m.d"), col("m.nid")).head()
      centerId = -top.getLong(1)
      picked += ((i.toLong, centerId, Some(top.getDouble(0))))
      if (i < k - 1)
        state = state
          .select(col("vec_id"), col("v"),
            least(col("d2min"), d2To(centerLit(centerId))).as("d2min"))
          .localCheckpoint(true)
    }
    val schema = StructType(Seq(
      StructField("sel_order", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("d2_raw", DoubleType, nullable = true)))
    val rows = picked.map { case (o, id, d) =>
      Row(o, id, d.map(Double.box).orNull)
    }
    spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows.toSeq).asJava), schema)
      .select(col("sel_order"), col("vec_id"),
        round(col("d2_raw"), 6).as("d2_sel"))
      .orderBy(col("sel_order"))
  }

  /** Interval-merge coverage (gaps-and-islands by OVERLAP, not by time
    * gap — the complement of q19's gap-based sessionize): per supplier,
    * merge overlapping order→ship fulfillment intervals into islands and
    * report interval count, island count, covered days, span days, and
    * the busy fraction — the machine-utilization / SLA-coverage shape.
    * Scale shape: one equi-join to attach order dates, then ONE window
    * over the supplier key (high-cardinality; per-partition row counts
    * are bounded by lineitems-per-supplier) computing the running
    * max(end) island flag and the running island id; island and supplier
    * roll-ups are combinable aggregates. The window order includes
    * (orderkey, linenumber) so equal-date rows order identically on both
    * engines. */
  def q215_interval_merge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        to_date(col("l_shipdate")).as("e"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("s")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"), col("s"), col("e"),
        col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("s"), col("e"), col("l_orderkey"), col("l_linenumber"))
    val prevMax = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = iv
      .withColumn("ni",
        when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("l_suppkey"), col("island"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"),
        count(lit(1)).cast("long").as("n_iv"))
    islands.groupBy(col("l_suppkey"))
      .agg(sum(col("n_iv")).cast("long").as("n_intervals"),
        count(lit(1)).cast("long").as("n_islands"),
        sum(datediff(col("me"), col("ms")) + 1).cast("long").as("covered_days"),
        (datediff(max(col("me")), min(col("ms"))) + 1).cast("long")
          .as("span_days"))
      .withColumn("busy_frac",
        round(col("covered_days").cast("double") /
          col("span_days").cast("double"), 6))
      .orderBy(col("l_suppkey"))
  }

  /** Exact weighted median (lower) of price weighted by quantity, per
    * return flag — the order-statistic q55's exact quantiles don't cover
    * (every row counts `weight` times, the shape behind weighted SLA and
    * per-unit price reporting). Scale shape: rows collapse to the
    * (flag, price) grain FIRST (one combinable decimal agg); the
    * cumulative weight comes from [[graft.transform.PrefixSum]]'s
    * range-partitioned two-pass scan — a `partitionBy(flag)` window would
    * funnel each of the 3 flags' whole price grain through ONE task at
    * 100 TB; the half-total comparison is `2*cum >= total` in
    * exact decimal — no division, no float boundary. */
  def q216_weighted_median(spark: SparkSession, dir: String): DataFrame = {
    // pin the (flag, price) grain: it feeds BOTH the totals branch and the
    // PrefixSum pass, and unpinned each branch re-ran the full lineitem
    // scan + partial aggregate (measured 2x ~0.75 s stages, 2x 9.1 MB
    // shuffle at sf0.1) — one materialization, two cheap readers
    val pw = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("price"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("wd"))
      .localCheckpoint(true)
    val tot = pw.groupBy(col("flag"))
      .agg(sum(col("wd")).as("wt"),
        count(lit(1)).cast("long").as("n_prices"))
    val cum = graft.transform.PrefixSum.groupedRunningAggs(pw, Seq("flag"),
      Seq(col("price")), Seq("wd" -> "cw"))
    val med = cum.join(tot, "flag")
      .filter(col("cw") * 2 >= col("wt"))
      .groupBy(col("flag")).agg(min(col("price")).as("w_median"))
    tot.join(med, "flag")
      .select(col("flag"), col("n_prices"),
        col("wt").cast("double").as("total_qty"), col("w_median"))
      .orderBy(col("flag"))
  }

  /** KMV (k-minimum-values) distinct sketch, k=32 — the third sketch
    * family next to HLL (q180) and CMS (q108), chosen here because it is
    * fully DETERMINISTIC: values are the engine-portable md5-upper-64
    * token hashes ([[graft.functions.StableHash]] family), so the oracle
    * replays the sketch bit-for-bit, estimate included. Per source the 32
    * smallest distinct hash values go through the heap TopKPerKey (state
    * = 32 longs per source, never a sort); the `__all__` row demonstrates
    * the sketch's mergeability — union the per-source min-sets, distinct,
    * re-take min-32 — which is how a 1000-executor rollup would combine
    * shard sketches without rescanning. Sources with < k values fall back
    * to the exact count (the sketch IS exact there). */
  def q217_kmv_distinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.MinHashSig
    val k = 32
    val mDbl = 2305843009213693951L.toDouble
    val hashed = Tables.documents(spark, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("source"),
        element_at(MinHashSig.minhashSig(array(col("tok")), 1), 1).as("h"))
      .distinct()
      .localCheckpoint(true)
    def kmvEstimate(kept: DataFrame): DataFrame =
      kept.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_k"), max(col("h")).as("kth"))
        .select(col("source"),
          when(col("n_k") < k, col("n_k").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(mDbl) /
              col("kth").cast("double")).as("est"))
    val kept = graft.plans.TopKPerKey.topKPerKey(hashed,
        keys = Seq(col("source")), order = Seq(col("h").asc), k = k)
    val perSource = kmvEstimate(kept)
    val mergedKept = graft.plans.TopKPerKey.topKPerKey(
      kept.select(lit("__all__").as("source"), col("h")).distinct(),
      keys = Seq(col("source")), order = Seq(col("h").asc), k = k)
    val exact = hashed.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_exact"))
    val exactAll = hashed.select(col("h")).distinct()
      .agg(count(lit(1)).cast("long").as("n_exact"))
      .select(lit("__all__").as("source"), col("n_exact"))
    perSource.unionAll(kmvEstimate(mergedKept))
      .join(exact.unionAll(exactAll), "source")
      .select(col("source"), col("n_exact"),
        round(col("est"), 6).as("kmv_est"),
        round(abs(col("est") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6).as("rel_err"))
      .orderBy(col("source"))
  }

  /** Bounded-hop BFS distance over the near-duplicate graph: from the
    * seed set (doc_id < 10), the minimum hop count to every doc reachable
    * within 4 hops — "how far does contamination spread through dup
    * links" (the distance complement of q54/q67's component labels and
    * q143's degrees). Scale shape: the LSH candidate pass is the shared
    * skew-capped q27 machinery; each of the 4 relaxation rounds is one
    * equi-join frontier expansion + a groupBy-min — the CC round class,
    * with localCheckpoint truncating lineage per round and the round
    * count FIXED (bounded work by construction, unlike
    * loop-to-convergence). */
  def q218_dup_bfs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionAll(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .localCheckpoint(true)
    var dist = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("node"), lit(0L).as("d"))
    for (_ <- 1 to 4) {
      val next = dist.join(edges, dist("node") === edges("a"))
        .select(col("b").as("node"), (col("d") + 1).as("d"))
      dist = dist.unionAll(next)
        .groupBy(col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
    }
    dist.select(col("node").as("doc_id"), col("d").as("hops"))
      .orderBy(col("doc_id"))
  }

  /** Water-filling token-budget allocation — the mixture PLANNER that
    * complements the mixture SAMPLER (q75): given per-source token
    * counts and a budget of half the corpus, allocate min(tokens, L)
    * tokens per source with the level L chosen so allocations exactly
    * exhaust the budget (the classic fair-share cap that stops one giant
    * crawl from eating the whole training mix). Scale shape: the corpus
    * collapses to ONE combinable per-source count; rank and exclusive
    * prefix both come from a single [[graft.transform.PrefixSum]] pass,
    * so even a web-scale source catalog (every crawl domain) never
    * funnels through one task. The level search is closed-form: the first
    * rank (ascending by count) whose candidate level
    * (budget − prefix) / (remaining) undershoots its own count. */
  def q219_water_filling(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("source")).agg(count(lit(1)).cast("long").as("t"))
      .withColumn("one", lit(1L))
    val tot = counts.agg(sum(col("t")).cast("long").as("total"),
        count(lit(1)).cast("long").as("n"))
      .withColumn("budget",
        floor(col("total").cast("double") / 2.0d).cast("long"))
    // rank + exclusive prefix in ONE range-partitioned PrefixSum pass
    // (running count == row_number because (t, source) is unique)
    val ranked = graft.transform.PrefixSum.groupedRunningAggs(counts, Nil,
        Seq(col("t"), col("source")), Seq("one" -> "r", "t" -> "ct"))
      .withColumn("p", col("ct") - col("t"))
      .drop("one", "ct")
      .crossJoin(broadcast(tot))
      .withColumn("cand", (col("budget") - col("p")).cast("double") /
        (col("n") - col("r") + 1).cast("double"))
    val pivot = ranked.filter(col("cand") <= col("t").cast("double"))
      .agg(min(struct(col("r").as("pr"), col("cand").as("lvl"))).as("m"))
      .select(col("m.pr").as("pr"), col("m.lvl").as("lvl"))
    ranked.crossJoin(broadcast(pivot))
      .select(col("source"), col("t").as("tokens"),
        round(when(col("r") < col("pr"), col("t").cast("double"))
          .otherwise(col("lvl")), 6).as("alloc"),
        (col("r") < col("pr")).as("funded_fully"))
      .orderBy(col("source"))
  }

  /** Shapley-value channel attribution over exposure coalitions (the
    * game-theoretic upgrade of last-touch q147): users collapse to a
    * 3-bit exposure mask over {view, click, signup}, conversion =
    * reached purchase; v(S) is the conversion rate of users with EXACTLY
    * coalition S, and each channel's Shapley value is the weighted sum
    * of its marginal contributions (weights 1/3, 1/6, 1/6, 1/3 for
    * n=3). Scale shape: ONE user-grain aggregate (high-cardinality key),
    * then an 8-row mask table pivoted to a single row — the whole
    * coalition algebra costs O(2^n) on the driver-side plan, never a
    * second corpus pass. Empty coalitions rate as 0 on both engines. */
  def q220_shapley_attribution(spark: SparkSession, dir: String): DataFrame = {
    val fl = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("v"),
        max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
        max(when(col("event_type") === "signup", 1).otherwise(0)).as("s"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("cv"))
    val mt = fl
      .groupBy((col("v") + col("c") * 2 + col("s") * 4).as("mask"))
      .agg(count(lit(1)).cast("long").as("nu"),
        sum(col("cv")).cast("long").as("nc"))
    val aggs = (0 to 7).flatMap(m => Seq(
      sum(when(col("mask") === m, col("nu")).otherwise(0L)).cast("long")
        .as(s"u$m"),
      sum(when(col("mask") === m, col("nc")).otherwise(0L)).cast("long")
        .as(s"c$m")))
    val one = mt.agg(aggs.head, aggs.tail: _*)
    val vv = one.select(
      (0 to 7).map(m => col(s"u$m")) ++
        (0 to 7).map(m => when(col(s"u$m") > 0,
          col(s"c$m").cast("double") / col(s"u$m").cast("double"))
          .otherwise(lit(0.0d)).as(s"v$m")): _*)
    val weights = Seq(1.0 / 3.0, 1.0 / 6.0, 1.0 / 6.0, 1.0 / 3.0)
    def channelRow(name: String, pairs: Seq[(Int, Int)], exp: Seq[Int]) =
      vv.select(lit(name).as("channel"),
        exp.map(m => col(s"u$m")).reduce(_ + _).cast("long").as("n_exposed"),
        round(pairs.zip(weights).map { case ((a, b), wt) =>
          lit(wt) * (col(s"v$a") - col(s"v$b"))
        }.reduce(_ + _), 6).as("shapley"))
    channelRow("view", Seq((1, 0), (3, 2), (5, 4), (7, 6)), Seq(1, 3, 5, 7))
      .unionAll(channelRow("click",
        Seq((2, 0), (3, 1), (6, 4), (7, 5)), Seq(2, 3, 6, 7)))
      .unionAll(channelRow("signup",
        Seq((4, 0), (5, 1), (6, 2), (7, 3)), Seq(4, 5, 6, 7)))
      .orderBy(col("channel"))
  }

  /** Exact ROC-AUC per event type (value as the score, that type as the
    * positive class) via the rank-sum identity with full tie handling —
    * the threshold-free twin of the fixed-threshold calibration curve
    * (q129) and the two-sample tests (q154): AUC =
    * (2·R⁺ − P(P+1)) / (2PN) where R⁺ sums average ranks of positives.
    * Scale shape: rows collapse to the VALUE grain first (one combinable
    * agg); the cumulative rank over distinct scores is the
    * range-partitioned [[graft.transform.PrefixSum]], with doubled ranks kept in
    * exact integer arithmetic (DECIMAL(38,0) products) until the final
    * division; all five AUCs share the ONE pooled rank table. */
  def q221_roc_auc(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val vg = ev.groupBy(col("value")).agg(count(lit(1)).cast("long").as("nv"))
    // exclusive prefix over the distinct-score grain — distinct doubles
    // grow ~linearly with data, so this must be the range-partitioned
    // two-pass PrefixSum, never a single-partition global window
    val vgc = graft.transform.PrefixSum.runningSums(vg, Seq(col("value")),
        Seq("nv" -> "cnv"))
      .withColumn("cb", col("cnv") - col("nv")).drop("cnv")
    val tv = ev.groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).cast("long").as("np"))
    val tot = vg.agg(sum(col("nv")).cast("long").as("ntot"))
    val per = tv.join(vgc, "value")
      .groupBy(col("event_type"))
      .agg(sum(col("np").cast("decimal(38,0)") *
          (lit(2L) * col("cb") + col("nv") + lit(1L)).cast("decimal(38,0)"))
          .as("r2"),
        sum(col("np")).cast("long").as("p"))
    per.crossJoin(broadcast(tot))
      .select(col("event_type"), col("p").as("n_pos"),
        (col("ntot") - col("p")).as("n_neg"),
        round((col("r2") - col("p").cast("decimal(38,0)") *
            (col("p") + 1).cast("decimal(38,0)")).cast("double") /
          (lit(2L).cast("decimal(38,0)") * col("p").cast("decimal(38,0)") *
            (col("ntot") - col("p")).cast("decimal(38,0)")).cast("double"), 6)
          .as("auc"))
      .orderBy(col("event_type"))
  }

  /** BPE merge-pair mining — the FIRST iteration of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016) run corpus-wide: the 20
    * most frequent adjacent character pairs, weighted by word frequency
    * and within-word multiplicity. Complements the ESTIMATE in
    * bpeTokenEstimate (q26) with the real training signal, and differs
    * from q76's word-level PMI collocations by operating at the symbol
    * level. Scale shape: the corpus collapses to the word-frequency
    * grain first (one combinable agg bounded by vocabulary, not corpus
    * size); the pair explode runs per DISTINCT word; and the final
    * top-20 goes through the heap TopKPerKey over the rounded totals. */
  def q222_bpe_pairs(spark: SparkSession, dir: String): DataFrame = {
    val wf = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("f"))
    val pc = wf
      .select(col("f"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pr"))
      .groupBy(col("pr")).agg(sum(col("f")).cast("long").as("total"))
    graft.plans.TopKPerKey.topKPerKey(pc.withColumn("g", lit(1)),
        keys = Seq(col("g")),
        order = Seq(col("total").desc, col("pr").asc), k = 20)
      .select(col("pr").as("pair"), col("total"))
      .orderBy(col("total").desc, col("pair"))
  }

  /** Split-conformal coverage audit (Vovk; Angelopoulos & Bates 2022):
    * per event type, the finite-sample conformal quantile
    * q̂ = k-th smallest calibration score with k = ⌈0.9(n+1)⌉, and the
    * empirical coverage P(score ≤ q̂) it actually achieves on the
    * held-out split — the distribution-free upgrade of the fixed-bin
    * calibration curve (q129). The calibration/test split is the
    * engine-portable [[graft.functions.StableHash]] (re-ingested rows
    * land in the same split forever); k uses pure integer arithmetic
    * ((9(n+1)+9) div 10), and the order statistic comes from the
    * q216 value-grain cumulative-count machinery — an exact k-th
    * smallest with no sort of raw rows, integer comparisons only. */
  def q223_conformal_coverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        (graft.functions.StableHash.bucket(col("event_id"), 1000) < 500)
          .as("is_cal"))
    val calGrain = ev.filter(col("is_cal"))
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).cast("long").as("nv"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val cum = calGrain.withColumn("cw",
      sum(col("nv")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val nCal = calGrain.groupBy(col("event_type"))
      .agg(sum(col("nv")).cast("long").as("n_cal"))
      .withColumn("k", expr("(9 * (n_cal + 1) + 9) div 10"))
      .select(col("event_type"), col("n_cal"), col("k").cast("long").as("k"))
    val qhat = cum.join(nCal, "event_type")
      .filter(col("cw") >= col("k"))
      .groupBy(col("event_type")).agg(min(col("value")).as("qhat"))
    ev.filter(!col("is_cal"))
      .join(qhat, "event_type")
      .groupBy(col("event_type"), col("qhat"))
      .agg(count(lit(1)).cast("long").as("n_test"),
        sum(when(col("value") <= col("qhat"), 1L).otherwise(0L)).cast("long")
          .as("n_cov"))
      .join(nCal.select(col("event_type"), col("n_cal")), "event_type")
      .select(col("event_type"), col("n_cal"), col("n_test"), col("qhat"),
        round(col("n_cov").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage"))
      .orderBy(col("event_type"))
  }

  /** Leave-one-source-out influence — group-level data valuation (the
    * closed-form cousin of Data Shapley): for each source, how the
    * corpus mean and variance of document length would move if that
    * source were dropped. One combinable (sum, sum-of-squares, count)
    * aggregate per source in exact decimal; the global row broadcasts
    * back and all LOO deltas are O(1) algebra per source — influence
    * for ANY number of sources at one scan's cost, where refitting
    * per-source would cost \|sources\| scans. */
  def q224_loo_influence(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("n_chars").cast("decimal(38,0)")).as("s"),
        sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)")).as("ss"))
    val tot = per.agg(sum(col("n")).cast("long").as("nt"),
      sum(col("s")).as("st"), sum(col("ss")).as("sst"))
    val gMean = col("st").cast("double") / col("nt").cast("double")
    val gVar = col("sst").cast("double") / col("nt").cast("double") -
      gMean * gMean
    val looMean = (col("st") - col("s")).cast("double") /
      (col("nt") - col("n")).cast("double")
    val looVar = (col("sst") - col("ss")).cast("double") /
      (col("nt") - col("n")).cast("double") - looMean * looMean
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_docs"),
        round(looMean - gMean, 6).as("mean_delta"),
        round(looVar - gVar, 6).as("var_delta"))
      .orderBy(col("source"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of a lexical and a
    * semantic retrieval run — the standard hybrid-search combiner, built
    * entirely from machinery this engine already verifies independently:
    * the lexical list is q29's sorted-3-gram merge-walk Jaccard, the
    * semantic list is q30's brute cosine, and the fused score is
    * 1/(60+r_lex) + 1/(60+r_sem) with absent-list terms contributing 0.
    * Scale shape: both candidate passes broadcast the bounded query set
    * and stream the corpus once; per-query windows rank ≤10-row lists;
    * the fusion join runs on ≤ 2·10·|queries| rows. */
  def q225_rrf_fusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nQ = 5; val kList = 10; val kOut = 5
    val sem = CosineKnn.topK(Tables.embeddings(spark, dir), "vec_id",
        "embedding", queryPredicate = col("id") < nQ, k = kList)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r_sem"))
    val grams = Tables.documents(spark, dir).select(col("doc_id"),
      array_sort(graft.functions.CharNgrams.charNgrams(col("text"), 3))
        .as("g"))
    val qg = broadcast(grams.filter(col("doc_id") < nQ)
      .select(col("doc_id").as("query_id"), col("g").as("qg")))
    val wl = Window.partitionBy(col("query_id"))
      .orderBy(col("j").desc, col("doc_id").asc)
    val lex = qg.join(grams, col("doc_id") =!= col("query_id"))
      .withColumn("j",
        graft.functions.JaccardSim.jaccardSimSorted(col("qg"), col("g")))
      .withColumn("r_lex", row_number().over(wl).cast("long"))
      .filter(col("r_lex") <= kList)
      .select(col("query_id"), col("doc_id"), col("r_lex"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0d) / (lit(60.0d) + col("r_lex").cast("double")),
          lit(0.0d)) +
        coalesce(lit(1.0d) / (lit(60.0d) + col("r_sem").cast("double")),
          lit(0.0d)))
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= kOut)
      .select(col("query_id"), col("rank"), col("doc_id"), col("r_lex"),
        col("r_sem"), round(col("rrf"), 6).as("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Duplicate-SPAN removal estimator — the second half of Lee et al.
    * 2022 that q213's per-doc rate doesn't give: using POSITIONAL word
    * 5-grams, find maximal runs of corpus-duplicated grams per doc and
    * count the tokens an exact-substring-removal pass would actually
    * delete (the union of [p, p+4] spans — overlapping spans counted
    * once via a distinct covered-token-index explode, no interval
    * algebra needed). Run detection uses the pos − row_number grouping
    * identity (positions are unique per doc, so it is tie-free on both
    * engines). Scale shape: the dup-gram table is q213's combinable
    * doc-frequency agg; positional work shuffles (doc_id, pos) pairs
    * only; covered-token counting explodes ONLY dup positions ×5. */
  def q226_dup_spans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // fan: the tokenize+explode+md5 kernel otherwise runs in the single
    // scan task (guide §2.5; no-op at corpus scale)
    val posGrams = Tables.fan(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(expr(
        "CASE WHEN size(split(text, ' ')) >= 5 THEN " +
          "transform(sequence(1, size(split(text, ' ')) - 4), " +
          "i -> concat_ws(' ', slice(split(text, ' '), i, 5))) " +
          "ELSE cast(array() AS array<string>) END"))
        .as(Seq("pos", "g")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        md5(col("g")).as("gh"))
      // consumed by THREE downstream aggregates (gram df, dup positions,
      // per-doc position counts) — truncate so the tokenize+explode+md5
      // scan runs once, not three times
      .localCheckpoint(true)
    val df = posGrams.select(col("doc_id"), col("gh")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).cast("long").as("nd"))
    val dupPos = posGrams.join(df, "gh").filter(col("nd") >= 2)
      .select(col("doc_id"), col("pos")).localCheckpoint(true)
    import org.apache.spark.sql.expressions.Window
    val runs = dupPos
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).cast("long").as("len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_runs"),
        max(col("len")).as("longest_run"))
    val covered = dupPos
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 4))
        .as("ti"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("removable_tokens"))
    val nPos = posGrams.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_pos"))
    docs.select(col("doc_id")).join(nPos, Seq("doc_id"), "left")
      .join(runs, Seq("doc_id"), "left").join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        coalesce(col("removable_tokens"), lit(0L)).as("removable_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Linear-kernel MMD² between label slices — the two-sample
    * distribution distance ‖μ_a − μ_b‖² over embedding centroids (the
    * pairwise upgrade of single-slice drift q113): a calibration-free
    * answer to "which label populations overlap in embedding space".
    * Scale shape: ONE posexplode pass builds all centroids in exact
    * decimal (q52's machinery, full 64 dims); the pairwise matrix is a
    * ≤k² broadcast self-join using the same order-stable three-dot
    * identity as the PQ family — corpus cost is one scan regardless of
    * how many label pairs are reported. */
  def q227_label_mmd(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(CosineKnn.toDouble(col("embedding")))
        .as(Seq("pos", "comp")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("comp").cast("decimal(27,12)")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("s").cast("double") / col("n").cast("double")).as("m"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("arr"))
      .select(col("label"), transform(col("arr"), e => e.getField("m"))
        .as("c"))
    val a = cents.select(col("label").as("label_a"), col("c").as("x"))
    val b = cents.select(col("label").as("label_b"), col("c"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), round(pqD2, 6).as("mmd2"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** SCD2 as-of reconstruction — the point-in-time read that makes the
    * q10 history table WORTH building: the state every user was in at
    * one instant (2024-01-15T00:00:00Z), selected by
    * valid_from ≤ T < valid_to. Scale shape: the interval predicate sits
    * directly on the SCD2 window output — on a stored history table
    * partitioned by valid_from date this prunes to the partitions
    * straddling T; exactly one row per user survives by the SCD2
    * non-overlap invariant, so the result is user-grain bounded. */
  def q228_scd2_asof(spark: SparkSession, dir: String): DataFrame = {
    val t = 1705276800000000L // epoch micros of 2024-01-15T00:00:00Z
    graft.transform.Scd2.fromHistory(Tables.events(spark, dir),
        Seq("user_id"), "ts", tiebreak = Seq("event_id"))
      .filter(col("valid_from_us") <= t && col("valid_to_us") > t)
      .select(col("user_id"), col("event_id"), col("valid_from_us"))
      .orderBy(col("user_id"))
  }

  /** Exact Kendall's τ-b between daily event volume and daily value sum
    * — the rank-correlation triad's third member (Pearson q194,
    * Spearman q198), preferred when the series are short and tie-heavy
    * because every pair is classified exactly: concordant, discordant,
    * or tied, with the tie-corrected denominator
    * √((n₀−n₁)(n₀−n₂)). Scale shape: the corpus collapses to the
    * calendar grain FIRST (q198's discipline), so the O(days²) pair
    * join is bounded by the observation window — 365 days is 66k pairs
    * forever, however many trillion events feed the days; tie counts
    * are integer combinable aggregates over the same tiny table. */
  def q229_kendall_tau(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("long").as("x"),
        sum(col("value").cast("decimal(18,2)")).as("y"))
      .localCheckpoint(true)
    val a = daily.select(col("d").as("d1"), col("x").as("x1"),
      col("y").as("y1"))
    val b = daily.select(col("d").as("d2"), col("x").as("x2"),
      col("y").as("y2"))
    val pairs = a.join(broadcast(b), col("d1") < col("d2"))
      .select((signum((col("x2") - col("x1")).cast("double")) *
        signum((col("y2") - col("y1")).cast("double"))).as("cd"))
      .agg(sum(when(col("cd") === 1.0d, 1L).otherwise(0L)).cast("long")
          .as("concordant"),
        sum(when(col("cd") === -1.0d, 1L).otherwise(0L)).cast("long")
          .as("discordant"))
    val n = daily.agg(count(lit(1)).cast("long").as("nd"))
      .withColumn("n0", col("nd") * (col("nd") - 1) / 2)
    val t1 = daily.groupBy(col("x")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - 1) / 2).cast("long").as("n1"))
    val t2 = daily.groupBy(col("y")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - 1) / 2).cast("long").as("n2"))
    pairs.crossJoin(broadcast(n)).crossJoin(broadcast(t1))
      .crossJoin(broadcast(t2))
      .select(col("nd").as("n_days"), col("concordant"), col("discordant"),
        round((col("concordant") - col("discordant")).cast("double") /
          sqrt((col("n0") - col("n1")).cast("double") *
            (col("n0") - col("n2")).cast("double")), 6).as("tau_b"))
  }

  /** Grouped OLS trend — per-nation least-squares slope and intercept of
    * quarterly revenue over the calendar quarter index (the per-group
    * generalization of the single global regression q195, and the model
    * underneath q209's raw QoQ deltas). Scale shape: ONE combinable
    * (n, Σx, Σy, Σx², Σxy) aggregate per nation in exact decimal at the
    * reporting grain; the normal-equation solve is O(1) double algebra
    * per group — fitting 10 million groups costs the same single scan.
    * Degenerate groups (one quarter) emit NULL slope on both engines. */
  def q230_grouped_ols(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        date_trunc("quarter", col("o_orderdate")).as("q"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .select(col("nation"),
        (year(col("q")) * 4 + quarter(col("q"))).cast("long").as("x"),
        col("rev"))
    val sums = rev.groupBy(col("nation"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("rev")).as("sy"),
        // tight types: (18,2)×(6,0) = (25,2), below Spark's 38-digit cap, so
        // the per-row product is exact — no engine-specific scale rounding
        sum(col("rev").cast("decimal(18,2)") * col("x").cast("decimal(6,0)"))
          .as("sxy"))
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    // numerator in DOUBLE from exactly-converted components: Spark's decimal
    // precision-cap rounding is engine-specific, double ops are IEEE-portable
    val slope = (col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) / den
    sums
      .withColumn("slope",
        when(den =!= 0.0d, round(slope, 6)).otherwise(lit(null)))
      .withColumn("intercept_m",
        // reported in millions: at raw magnitude ~1e9 a 6-decimal rounding
        // sits below one double ULP and the two engines' round() can land on
        // adjacent doubles; /1e6 first keeps the rounded value representable
        when(den =!= 0.0d, round(((col("sy").cast("double") -
          slope * col("sx").cast("double")) / col("n").cast("double")) /
          1.0e6d, 6))
          .otherwise(lit(null)))
      .select(col("nation"), col("n").as("n_quarters"), col("slope"),
        col("intercept_m"))
      .orderBy(col("nation"))
  }

  /** Heaps'-law fit V(n) = K·n^β — the vocabulary-growth exponent that
    * pairs with the Zipf rank-frequency fit (q139) and turns q110's raw
    * growth curve into the two parameters capacity planning actually
    * uses (how big does the token dictionary get at 100 TB?). Scale
    * shape: q110's decile machinery (one first-seen groupBy-min, one
    * token count) collapses the corpus to 10 (cum_tokens, cum_types)
    * points; the log-log OLS runs q139's exact-decimal spelling over
    * those 10 rows. */
  def q231_heaps_fit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nmax = docs.agg((max(col("doc_id")) + 1).cast("double").as("nd"))
    val toks = docs.crossJoin(broadcast(nmax))
      .select(floor(col("doc_id").cast("double") * 10.0 / col("nd"))
          .cast("long").as("decile"),
        explode(TextOps.tokens(col("text"))).as("tok"))
    val perDecile = toks.groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n_tokens"))
    val firstSeen = toks.groupBy(col("tok"))
      .agg(min(col("decile")).as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).cast("long").as("n_new"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perDecile.join(firstSeen, Seq("decile"), "left")
      .select(col("decile"), col("n_tokens"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("ct", sum(col("n_tokens")).over(w).cast("long"))
      .withColumn("cv", sum(col("n_new")).over(w).cast("long"))
    val xy = cum
      .select(round(log(col("ct").cast("double")), 9).as("x"),
        round(log(col("cv").cast("double")), 9).as("y"))
      .select(col("x"), col("y"),
        (col("x") * col("y")).cast("decimal(27,12)").as("xy"),
        (col("x") * col("x")).cast("decimal(27,12)").as("xx"),
        col("x").cast("decimal(27,12)").as("sx"),
        col("y").cast("decimal(27,12)").as("sy"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("xy")).cast("double").as("sxy"),
        sum(col("xx")).cast("double").as("sxx"),
        sum(col("sx")).cast("double").as("sx"),
        sum(col("sy")).cast("double").as("sy"))
    xy.select(col("n").cast("long").as("n_points"),
      (round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6) + lit(0.0))
        .as("heaps_beta"),
      (round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
        col("n"), 6) + lit(0.0)).as("ln_k"))
  }

  /** Jensen–Shannon divergence matrix between source unigram
    * distributions — the symmetric, bounded [0, ln 2] complement of the
    * directional KL (q96/q113-style drift) and the lexical twin of the
    * embedding MMD matrix (q227): which sources SAY the same things.
    * Scale shape: tokens collapse to 256 portable hash buckets at the
    * scan (q90's feature map), the source×bucket grid is DENSIFIED to
    * make add-1 smoothing exact for absent buckets, and the pairwise
    * pass is table algebra over ≤\|sources\|²·256 rows; per-pair term
    * sums fold through DECIMAL(27,12), so the double additions are
    * order-immune. */
  def q232_source_jsd(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val nB = 256
    val tok = Tables.documents(spark, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("source"), StableHash.bucket(col("tok"), nB).as("b"))
    val counts = tok.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).cast("long").as("c"))
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("t"))
    val grid = totals
      .select(col("source"), col("t"),
        explode(sequence(lit(0L), lit((nB - 1).toLong))).as("b"))
      .join(counts, Seq("source", "b"), "left")
      .select(col("source"), col("b"),
        ((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("t") + nB).cast("double")).as("p"))
      .localCheckpoint(true)
    val a = grid.select(col("source").as("source_a"), col("b"),
      col("p").as("pa"))
    val b = grid.select(col("source").as("source_b"), col("b"),
      col("p").as("pb"))
    val m = (col("pa") + col("pb")) / 2.0d
    a.join(b, Seq("b")).filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        ((lit(0.5d) * (col("pa") * log(col("pa") / m)) +
          lit(0.5d) * (col("pb") * log(col("pb") / m)))
          .cast("decimal(27,12)")).as("term"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(round(sum(col("term")).cast("double"), 6).as("jsd"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Exponential goodness-of-fit for inter-event gaps: rate MLE
    * λ = n/Σgap plus the exact two-sided Kolmogorov–Smirnov distance
    * sup|F̂ − F| against Exp(λ) — the distributional yes/no behind
    * q132's burstiness summary (a Poisson process would pass; bursty
    * traffic fails with a large D). Scale shape: gaps come from ONE
    * user-keyed lag window; the KS sup evaluates BOTH one-sided gaps
    * (jump top and bottom) on the value grain, so the only global
    * structure is the distinct-gap cumulative table (q55 trade), and
    * max() is order-immune — no spelled-sum parity risk at all. Gaps
    * stay exact integer micros until the model evaluation. */
  def q233_exp_ks_fit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"),
      col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("g",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wu))
      .filter(col("g").isNotNull)
      .select(col("g"))
    val tot = gaps.agg(count(lit(1)).cast("long").as("n"),
      sum(col("g")).cast("long").as("s"))
    val grain = graft.transform.PrefixSum.runningSums(
      gaps.groupBy(col("g")).agg(count(lit(1)).cast("long").as("ng")),
      Seq(col("g")), Seq("ng" -> "cum"))
    val lam = col("n").cast("double") / col("s").cast("double")
    val model = lit(1.0d) - exp(-lam * col("g").cast("double"))
    grain.crossJoin(broadcast(tot))
      .select(col("n"), col("s"),
        greatest(
          abs(col("cum").cast("double") / col("n").cast("double") - model),
          abs((col("cum") - col("ng")).cast("double") /
            col("n").cast("double") - model)).as("d"))
      .groupBy(col("n"), col("s"))
      .agg(round(max(col("d")), 6).as("ks_d"))
      .select(col("n").as("n_gaps"),
        round(col("n").cast("double") / col("s").cast("double") *
          lit(3.6e9d), 6).as("lambda_per_hour"),
        col("ks_d"))
  }

  /** Degree assortativity of the near-dup graph — the network statistic
    * that says whether boilerplate hubs link to OTHER hubs (r > 0, one
    * giant template family) or to leaves (r < 0, hub-and-spoke
    * syndication), completing the graph-diagnostics suite
    * (degrees q143, triangles q148, components q54, BFS q218). Computed
    * as the exact Pearson correlation of (deg(a), deg(b)) over both
    * orientations of every edge: degrees are integers, so every moment
    * sum is EXACT integer arithmetic (DECIMAL(38,0)) until the one final
    * sqrt-divide. Scale shape: one groupBy-count for degrees, two
    * id-keyed equi-joins to decorate edges, one combinable moment agg. */
  def q234_dup_assortativity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionAll(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .localCheckpoint(true)
    val deg = edges.groupBy(col("a").as("node"))
      .agg(count(lit(1)).cast("long").as("deg"))
    val dec = edges
      .join(deg.select(col("node").as("a"), col("deg").as("dx")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("dy")), "b")
    val m = dec.agg(count(lit(1)).cast("long").as("m"),
      sum(col("dx").cast("decimal(38,0)")).as("sx"),
      sum(col("dy").cast("decimal(38,0)")).as("sy"),
      sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"),
      sum((col("dy") * col("dy")).cast("decimal(38,0)")).as("syy"),
      sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"))
    m.select((col("m") / 2).cast("long").as("n_edges"),
      round((col("m").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
        sqrt((col("m").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
          (col("m").cast("double") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))), 6)
        .as("assortativity"))
  }

  /** Histogram auto-binning planner (Freedman–Diaconis vs Sturges) —
    * the pre-flight that sizes every downstream histogram/PSI/drift bin
    * layout (q202's bins are pre-registered constants; THIS is the pass
    * that registers them). IQR comes exact from the q216 value-grain
    * cumulative machinery with pure-integer k = ⌈n/4⌉, ⌈3n/4⌉;
    * n^(−1/3) is spelled exp(−ln n / 3) (libm exp/ln parity, avoiding
    * engine-specific pow). One row out; one scan in. */
  def q235_fd_binning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir).select(col("value"))
    val grain = graft.transform.PrefixSum.runningSums(
        ev.groupBy(col("value")).agg(count(lit(1)).cast("long").as("nv")),
        Seq(col("value")), Seq("nv" -> "cum"))
      .localCheckpoint(true)
    val tot = grain.agg(sum(col("nv")).cast("long").as("n"),
      min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .withColumn("k25", expr("(n + 3) div 4"))
      .withColumn("k75", expr("(3 * n + 3) div 4"))
    val q25 = grain.crossJoin(broadcast(tot))
      .filter(col("cum") >= col("k25"))
      .agg(min(col("value")).as("q25"))
    val q75 = grain.crossJoin(broadcast(tot))
      .filter(col("cum") >= col("k75"))
      .agg(min(col("value")).as("q75"))
    val width = lit(2.0d) * (col("q75") - col("q25")) *
      exp(-log(col("n").cast("double")) / 3.0d)
    tot.crossJoin(broadcast(q25)).crossJoin(broadcast(q75))
      .select(col("n").as("n_rows"), col("vmin"), col("vmax"),
        round(col("q75") - col("q25"), 6).as("iqr"),
        round(width, 6).as("fd_width"),
        ceil((col("vmax") - col("vmin")) / width).cast("long").as("fd_bins"),
        (ceil(log(col("n").cast("double")) / log(lit(2.0d))).cast("long") + 1)
          .as("sturges_bins"))
  }

  /** Distinct-n diversity (the corpus-health metric behind self-BLEU
    * style generation audits): per source and n ∈ {1,2,3}, the ratio of
    * DISTINCT word n-grams to total n-gram occurrences — near 1 means
    * fresh text, near 0 means template spam; the per-source drill-down
    * of what q51's per-doc repetition score measures locally. Scale
    * shape: positional grams collapse to md5 at the scan; each n is one
    * combinable (count, count-distinct-hash) aggregate — the distinct
    * side shuffles (source, hash) once, the q23 exact-dedup class. */
  def q236_distinct_n(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def level(n: Int): DataFrame = {
      val grams =
        if (n == 1)
          docs.select(col("source"),
            explode(TextOps.tokens(col("text"))).as("g"))
        else
          docs.select(col("source"), explode(expr(
            s"CASE WHEN size(split(text, ' ')) >= $n THEN " +
              s"transform(sequence(1, size(split(text, ' ')) - ${n - 1}), " +
              s"i -> concat_ws(' ', slice(split(text, ' '), i, $n))) " +
              "ELSE cast(array() AS array<string>) END")).as("g"))
      grams.select(col("source"), md5(col("g")).as("gh"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("total_ngrams"),
          countDistinct(col("gh")).cast("long").as("distinct_ngrams"))
        .select(col("source"), lit(n.toLong).as("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          round(col("distinct_ngrams").cast("double") /
            col("total_ngrams").cast("double"), 6).as("distinct_ratio"))
    }
    level(1).unionAll(level(2)).unionAll(level(3))
      .orderBy(col("source"), col("n"))
  }

  /** Mann–Whitney U rank-sum test (tie-corrected) comparing purchase vs
    * click event values — the distribution-free A/B answer when q154's
    * proportion z-test can't see magnitude shifts. Everything up to the
    * final z is EXACT integer arithmetic on the value grain: a tied
    * block occupying ranks (cum−n+1 .. cum) has 2·midrank = 2·cum−n+1,
    * so 2·R_A = Σ n_a·(2·cum−n+1) and the tie term Σ(n³−n) stay
    * integral (DECIMAL(38,0) — rank sums reach ~2N² and outgrow long at
    * cluster scale). Scale shape: one combinable grain agg, one ordered
    * cumulative over the DISTINCT-value grain (the q216/q235 machinery),
    * one one-row reduce. Cliff's delta comes free from the same U. */
  def q237_mann_whitney(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("value"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("isa"))
    val grain = graft.transform.PrefixSum.runningSums(
        ev.groupBy(col("value"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("isa")).cast("long").as("na")),
        Seq(col("value")), Seq("n" -> "cum"))
    val s = grain.agg(
      sum(col("na")).cast("long").as("n_a"),
      sum(col("n") - col("na")).cast("long").as("n_b"),
      sum(col("na").cast("decimal(38,0)") *
        (lit(2L) * col("cum") - col("n") + lit(1L)).cast("decimal(38,0)"))
        .as("two_r_a"),
      sum((col("n") * col("n") * col("n") - col("n")).cast("decimal(38,0)"))
        .as("tie_term"))
    val u = s.select(col("n_a"), col("n_b"),
      (col("two_r_a") - (col("n_a") * (col("n_a") + lit(1L)))
        .cast("decimal(38,0)")).as("two_u"),
      col("tie_term"), (col("n_a") + col("n_b")).as("nn"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nnD = col("nn").cast("double")
    val tieD = col("tie_term").cast("double")
    val uD = col("two_u").cast("double")
    u.select(col("n_a"), col("n_b"),
      col("two_u").cast("long").as("two_u_a"),
      col("tie_term").cast("long").as("tie_term"),
      round((uD / lit(2.0d) - naD * nbD / lit(2.0d)) /
        sqrt(naD * nbD / lit(12.0d) *
          ((nnD + lit(1.0d)) - tieD / (nnD * (nnD - lit(1.0d))))), 6)
        .as("z_score"),
      round((uD - naD * nbD) / (naD * nbD), 6).as("cliffs_delta"))
  }

  /** Wilson-score lower-bound ranking of per-source quality pass rates —
    * the small-sample-honest way to rank sources by "fraction of docs
    * passing the length gate": a source with 3/3 passing must NOT outrank
    * one with 95/100, which a raw proportion does and the 95% Wilson
    * lower bound does not. z² is the literal 3.8416 on BOTH engines (so
    * no cross-engine 1.96·1.96 product parity is needed). Scale shape:
    * one combinable (count, sum-of-flag) aggregate per source; the
    * ranking window orders the post-agg source table (|sources| rows). */
  def q238_wilson_rank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).cast("long")
          .as("n_pass"))
    val nD = col("n_docs").cast("double")
    val p = col("n_pass").cast("double") / nD
    val z = lit(1.96d)
    val z2 = lit(3.8416d)
    val lb = (p + z2 / (lit(2.0d) * nD) -
      z * sqrt(p * (lit(1.0d) - p) / nD + z2 / (lit(4.0d) * nD * nD))) /
      (lit(1.0d) + z2 / nD)
    agg.select(col("source"), col("n_docs"), col("n_pass"),
        round(lb, 6).as("wilson_lb"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("wilson_lb").desc, col("source"))).cast("long"))
      .orderBy(col("rnk"))
  }

  /** Katz centrality on the near-dup graph via EXACT integer walk counts —
    * which documents sit at the CENTER of duplication clusters (the ones
    * whose removal de-dups the most): score = Σ_k β^k·walks_k with β=0.1
    * truncated at k=3, held integral as katz_x1000 = 100·w1 + 10·w2 + w3
    * so no floating-point sum order can flip a ranking (the PageRank-class
    * alternative needs FP fixpoints; walk counts need only BIGINT joins).
    * Scale shape: w_{k+1} = one id-keyed equi-join of the edge list
    * against the (node, w_k) table + one combinable sum — three rounds,
    * shuffles carry (id, long) only; degree skew is pre-capped by the LSH
    * maxBucket guard upstream. */
  def q239_katz_centrality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionAll(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .localCheckpoint(true)
    val w1 = edges.groupBy(col("a").as("node"))
      .agg(count(lit(1)).cast("long").as("w1"))
    val w2 = edges.join(w1.select(col("node").as("b"), col("w1")), "b")
      .groupBy(col("a").as("node")).agg(sum(col("w1")).cast("long").as("w2"))
    val w3 = edges.join(w2.select(col("node").as("b"), col("w2")), "b")
      .groupBy(col("a").as("node")).agg(sum(col("w2")).cast("long").as("w3"))
    w1.join(w2, "node").join(w3, "node")
      .select(col("node").as("doc_id"), col("w1"), col("w2"), col("w3"),
        (col("w1") * 100L + col("w2") * 10L + col("w3")).as("katz_x1000"))
      .orderBy(col("doc_id"))
  }

  /** Kruskal-Wallis H across event types on the money grain — the k-group
    * generalization of q237's Mann-Whitney: "does `value` differ by event
    * type" without any normality assumption. Rank sums are held EXACT as
    * integers on the (value) grain (2·R_g = Σ n_gv·(2·cum−n_v+1), the same
    * trick q237 uses), the per-group R²/n terms are rounded to 6 decimals
    * and summed as DECIMAL so no FP sum order can flip the statistic, and
    * the tie correction Σ(t³−t) is an integer sum. Scale shape: two
    * combinable aggregates on the value grain (bounded by the price
    * domain, not the row count) + one ordered prefix-sum over that grain;
    * shuffles carry (value, count) pairs only. */
  def q240_kruskal_wallis(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value").cast("decimal(18,2)").as("v"))
    val pv = ev.groupBy(col("v")).agg(count(lit(1)).cast("long").as("n_v"))
    val cumt = graft.transform.PrefixSum.runningSums(pv, Seq(col("v")),
      Seq("n_v" -> "cum"))
    val gv = ev.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).cast("long").as("n_gv"))
    val g = gv.join(cumt, "v")
      .groupBy(col("event_type"))
      .agg(sum(col("n_gv")).cast("long").as("n_g"),
        sum(col("n_gv") * (lit(2L) * col("cum") - col("n_v") + lit(1L)))
          .cast("long").as("two_r"))
    val tot = cumt.agg(sum(col("n_v")).cast("long").as("n_tot"),
      sum(col("n_v") * col("n_v") * col("n_v") - col("n_v")).cast("long")
        .as("tie_term"))
    val terms = g.select(col("event_type"), col("n_g"), col("two_r"),
      round((col("two_r").cast("double") * col("two_r").cast("double")) /
        (lit(4.0d) * col("n_g").cast("double")), 6)
        .cast("decimal(38,6)").as("term"))
    val hs = terms.agg(sum(col("term")).as("sum_terms"))
    val nD = col("n_tot").cast("double")
    val h = lit(12.0d) / (nD * (nD + lit(1.0d))) *
      col("sum_terms").cast("double") - lit(3.0d) * (nD + lit(1.0d))
    val corr = lit(1.0d) -
      col("tie_term").cast("double") / (nD * nD * nD - nD)
    terms.crossJoin(hs).crossJoin(tot)
      .select(col("event_type"), col("n_g"), col("two_r"),
        round(col("two_r").cast("double") /
          (lit(2.0d) * col("n_g").cast("double")), 6).as("mean_rank"),
        round(h, 6).as("h_stat"),
        round(h / corr, 6).as("h_corr"))
      .orderBy(col("event_type"))
  }

  /** Brown-Forsythe robust equality-of-spread test across event types —
    * the Levene variant on deviations from the group MEDIAN, the standard
    * pre-check before trusting a pooled-variance model on heavy-tailed
    * value data. Medians are exact order statistics on the per-group money
    * grain (min v with 2·cum ≥ n_g = the lower median in both parities);
    * |v−med| stays DECIMAL so the S1/S2 deviation sums are exact and
    * order-independent; only the final F assembly is FP, with per-group
    * terms rounded-then-DECIMAL-summed (the q240 determinism trick).
    * Scale shape: the grain agg and cumulative window are per event type
    * over the bounded price domain; the deviation pass is one broadcast
    * join of 5 medians against the fact table + one combinable agg. */
  def q241_brown_forsythe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value").cast("decimal(18,2)").as("v"))
    val grain = ev.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).cast("long").as("n_gv"))
    val cum = grain.withColumn("cum",
      sum(col("n_gv")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
    val ng = grain.groupBy(col("event_type"))
      .agg(sum(col("n_gv")).cast("long").as("n_g"))
    val med = cum.join(ng, "event_type")
      .filter(col("cum") * 2 >= col("n_g"))
      .groupBy(col("event_type")).agg(min(col("v")).as("med"))
    val z = ev.join(broadcast(med), "event_type")
      .select(col("event_type"),
        abs(col("v") - col("med")).cast("decimal(18,2)").as("z"))
    val gs = z.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_g"),
        sum(col("z")).cast("decimal(38,2)").as("s1"),
        sum((col("z") * col("z")).cast("decimal(38,4)"))
          .cast("decimal(38,4)").as("s2"))
    val tot = gs.agg(sum(col("n_g")).cast("long").as("n_tot"),
      sum(col("s1")).cast("decimal(38,2)").as("s1_tot"),
      count(lit(1)).cast("long").as("k"))
    val nD = col("n_g").cast("double")
    val s1D = col("s1").cast("double")
    val withTot = gs.join(broadcast(med), "event_type").crossJoin(tot)
    val sswTerm = round(col("s2").cast("double") - s1D * s1D / nD, 6)
      .cast("decimal(38,6)")
    val dev = s1D / nD - col("s1_tot").cast("double") /
      col("n_tot").cast("double")
    val ssbTerm = round(nD * dev * dev, 6).cast("decimal(38,6)")
    val parts = withTot.select(col("event_type"), col("n_g"), col("med"),
      round(s1D / nD, 6).as("mean_absdev"),
      sswTerm.as("ssw_t"), ssbTerm.as("ssb_t"),
      col("n_tot"), col("k"))
    val fagg = parts.agg(sum(col("ssw_t")).as("ssw"),
      sum(col("ssb_t")).as("ssb"))
    val f = (col("ssb").cast("double") / (col("k").cast("double") -
      lit(1.0d))) / (col("ssw").cast("double") /
      (col("n_tot").cast("double") - col("k").cast("double")))
    parts.crossJoin(fagg)
      .select(col("event_type"), col("n_g"),
        col("med").cast("double").as("group_median"),
        col("mean_absdev"),
        round(col("ssw").cast("double"), 6).as("ssw"),
        round(col("ssb").cast("double"), 6).as("ssb"),
        round(f, 6).as("f_stat"))
      .orderBy(col("event_type"))
  }

  /** McNemar's paired test between two quality gates — "does the
    * char-length gate and the token-count gate disagree more in one
    * direction?", the right test when both gates score the SAME documents
    * (a two-proportion z would wrongly treat them as independent samples).
    * Pure integer contingency counts (one combinable agg over documents)
    * with the continuity-corrected χ² = (|b−c|−1)²/(b+c); only the final
    * two ratios are FP. Scale shape: one map + one 4-counter aggregate —
    * the cheapest possible full-table pass. */
  def q242_mcnemar(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      (col("n_chars") >= 300).as("ga"),
      (TextOps.tokenCount(col("text")) >= 52).as("gb"))
    val s = d.agg(
      sum(when(col("ga") && col("gb"), 1L).otherwise(0L)).cast("long")
        .as("n11"),
      sum(when(col("ga") && !col("gb"), 1L).otherwise(0L)).cast("long")
        .as("n10"),
      sum(when(!col("ga") && col("gb"), 1L).otherwise(0L)).cast("long")
        .as("n01"),
      sum(when(!col("ga") && !col("gb"), 1L).otherwise(0L)).cast("long")
        .as("n00"))
    val b = col("n10").cast("double")
    val c = col("n01").cast("double")
    s.select(col("n11"), col("n10"), col("n01"), col("n00"),
      when(col("n10") + col("n01") > 0,
        round((b - c) * (b - c) / (b + c), 6)).as("chi2"),
      when(col("n10") + col("n01") > 0,
        round((abs(b - c) - lit(1.0d)) * (abs(b - c) - lit(1.0d)) / (b + c),
          6)).as("chi2_cc"),
      when(col("n01") > 0, round(b / c, 6)).as("discordant_ratio"))
  }

  /** Interpolated Kneser-Ney bigram probabilities (D=0.75) for the top-50
    * corpus bigrams — the smoothing a real LM backoff uses, where the
    * continuation probability is "in how many distinct contexts does w2
    * appear" rather than raw frequency (so "francisco" scores low even
    * though it's frequent, because it only ever follows "san"). All four
    * count tables are combinable aggregates on vocabulary-sized grains
    * (bigram types, unigram types); the only FP is the final probability
    * assembly, rounded to 6. The top-50 cut orders by integer count with
    * a full lexical tiebreak, so no FP value participates in the ranking.
    * Scale shape: position rows shuffle once to the bigram grain, every
    * later join is vocabulary-sized against vocabulary-sized. */
  def q243_kneser_ney(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
    val pos = toks.select(
        explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cb = pos.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("cb"))
    val cpre = cb.groupBy(col("w1"))
      .agg(sum(col("cb")).cast("long").as("cu"),
        count(lit(1)).cast("long").as("n1fw"))
    val cbw = cb.groupBy(col("w2"))
      .agg(count(lit(1)).cast("long").as("n1bw"))
    val tTypes = cb.agg(count(lit(1)).cast("long").as("t_types"))
    val d = lit(0.75d)
    val cbD = col("cb").cast("double")
    val cuD = col("cu").cast("double")
    val pkn = greatest(cbD - d, lit(0.0d)) / cuD +
      d * (col("n1fw").cast("double") / cuD) *
        (col("n1bw").cast("double") / col("t_types").cast("double"))
    cb.join(cpre, "w1").join(cbw, "w2")
      .crossJoin(broadcast(tTypes))
      .orderBy(col("cb").desc, col("w1"), col("w2"))
      .limit(50)
      .select(col("w1"), col("w2"), col("cb"), col("cu"),
        col("n1fw"), col("n1bw"), round(pkn, 6).as("p_kn"))
      .orderBy(col("cb").desc, col("w1"), col("w2"))
  }

  /** Temperature-scaled sampling weights per language (α=0.3, the
    * standard multilingual-LM rebalance): w_l ∝ p_l^α flattens the
    * head-language dominance so low-resource languages are upsampled, and
    * the report spells out exactly how much (upsample factor = w·N/n).
    * Determinism: each p^α is rounded to 12 decimals and DECIMAL-summed
    * so the normalizing constant has no FP-order dependence; libm pow
    * last-ulp differences die in the round. Scale shape: one combinable
    * count by language + a |langs|-row cross join — nothing row-scale
    * after the first agg. */
  def q244_temperature_mix(spark: SparkSession, dir: String): DataFrame = {
    val byLang = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).cast("long").as("n_docs"))
    val tot = byLang.agg(sum(col("n_docs")).cast("long").as("n_tot"))
    val p = col("n_docs").cast("double") / col("n_tot").cast("double")
    val scored = byLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tot"),
        round(pow(p, lit(0.3d)), 12).cast("decimal(38,12)").as("sd"))
    val norm = scored.agg(sum(col("sd")).cast("decimal(38,12)").as("s_tot"))
    val w = col("sd").cast("double") / col("s_tot").cast("double")
    scored.crossJoin(broadcast(norm))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_tot").cast("double"), 6)
          .as("p_raw"),
        round(w, 6).as("weight"),
        round(w * col("n_tot").cast("double") /
          col("n_docs").cast("double"), 6).as("upsample_factor"))
      .orderBy(col("lang"))
  }

  /** Vocabulary head-coverage curve — what fraction of the corpus token
    * mass the top-10/100/1000 most frequent tokens cover. The Zipf-head
    * audit behind "how big does a tokenizer vocab need to be" and
    * stopword-list sizing. Ranking and cumulative mass are exact
    * integers on the vocabulary grain (count-desc with lexical
    * tiebreak); the coverage ratio is the only FP, rounded at 6. Scale
    * shape: one combinable token-count agg; the heap TopKPerKey cuts the
    * vocabulary to its 1000-row head before any ordered pass, and only
    * that head ever reaches the explode — neither row-scale data nor the
    * full vocab grain ever sees a window. */
  def q245_head_coverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("cnt"))
    val tot = counts.agg(sum(col("cnt")).cast("long").as("total_mass"),
      count(lit(1)).cast("long").as("vocab_size"))
    // cut the vocab to its 1000-row head with the spilling heap TopKPerKey
    // FIRST, then rank the head with PrefixSum — the vocabulary grain
    // (100M+ types at web scale) never funnels through one task
    val head = graft.plans.TopKPerKey.topKPerKey(
        counts.withColumn("g", lit(1)), keys = Seq(col("g")),
        order = Seq(col("cnt").desc, col("tok").asc), k = 1000)
      .drop("g")
    val ranked = graft.transform.PrefixSum.rowNumber(head, Nil,
      Seq(col("cnt").desc, col("tok")), "rnk")
    val ks = ranked.select(col("cnt"), col("rnk"),
        explode(array(lit(10L), lit(100L), lit(1000L))).as("k"))
      .filter(col("rnk") <= col("k"))
      .groupBy(col("k"))
      .agg(sum(col("cnt")).cast("long").as("head_mass"))
    ks.crossJoin(broadcast(tot))
      .select(col("k"), col("head_mass"), col("total_mass"),
        col("vocab_size"),
        round(col("head_mass").cast("double") /
          col("total_mass").cast("double"), 6).as("coverage"))
      .orderBy(col("k"))
  }

  /** Local clustering coefficient per document on the near-dup graph —
    * distinguishes docs inside tight duplicate CLIQUES (lcc→1, safe to
    * drop all but one) from hub docs bridging unrelated clusters (lcc→0,
    * dropping them would merge distinct content). Triangles are counted
    * once in (a<b<c) order and credited to all three corners; degree and
    * triangle counts stay integer, the coefficient is the only FP. Scale
    * shape: the wedge join is Σ deg², pre-bounded by the LSH maxBucket
    * cap; per-vertex credit is an explode of exactly 3 rows per triangle. */
  def q246_clustering_coeff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val e = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val tri = e.select(col("id_a").as("a"), col("id_b").as("b"))
      .join(e.select(col("id_a").as("b"), col("id_b").as("c")), "b")
      .join(e.select(col("id_a").as("a"), col("id_b").as("c")),
        Seq("a", "c"), "left_semi")
    val triPerV = tri.select(explode(array(col("a"), col("b"), col("c")))
        .as("v"))
      .groupBy(col("v")).agg(count(lit(1)).cast("long").as("tri_cnt"))
    val deg = e.select(col("id_a").as("v"))
      .unionAll(e.select(col("id_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).cast("long").as("degree"))
    deg.filter(col("degree") >= 2)
      .join(triPerV, "v", "left")
      .select(col("v").as("doc_id"), col("degree"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        round(lit(2.0d) * coalesce(col("tri_cnt"), lit(0L)).cast("double") /
          (col("degree").cast("double") *
            (col("degree").cast("double") - lit(1.0d))), 6).as("lcc"))
      .orderBy(col("doc_id"))
  }

  /** Bounded-round 2-core peeling of the near-dup graph — the standard
    * preprocessing cut before community detection: leaves (degree-1 docs)
    * carry no cluster structure, and removing them exposes new leaves, so
    * the peel iterates. Four fixed rounds (not a data-dependent fixpoint)
    * keep the computation deterministic and the plan statically bounded —
    * the oracle unrolls the identical four rounds. Scale shape: each
    * round is one degree aggregate + one semi-join edge filter; edge-set
    * size is monotonically nonincreasing and lineage is truncated by the
    * single upstream checkpoint. */
  def q247_kcore_bounded(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    var e = graft.similarity.MinHashLsh.nearDuplicatePairs(docs, "doc_id",
        "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    for (_ <- 1 to 4) {
      val keep = e.select(col("id_a").as("v"))
        .unionAll(e.select(col("id_b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).cast("long").as("d"))
        .filter(col("d") >= 2)
        .select(col("v"))
      e = e.join(keep.withColumnRenamed("v", "id_a"), Seq("id_a"),
          "left_semi")
        .join(keep.withColumnRenamed("v", "id_b"), Seq("id_b"), "left_semi")
        .select(col("id_a"), col("id_b"))
        // truncate per round: the surviving edge set is tiny, and without
        // this the 4 rounds stack into one 12-shuffle plan that Catalyst
        // re-plans wholesale (8.5s at sf0.1 vs ~1s truncated)
        .localCheckpoint(true)
    }
    e.select(col("id_a").as("v")).unionAll(e.select(col("id_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).cast("long").as("core_degree"))
      .select(col("v").as("doc_id"), col("core_degree"))
      .orderBy(col("doc_id"))
  }

  /** Two-hop reach per document on the near-dup graph — how much of the
    * corpus each doc's duplication neighborhood touches within two hops,
    * the blast-radius estimate for "if this doc is contaminated, what
    * else is suspect". Exact distinct counts over the union of 1-hop and
    * 2-hop neighbor sets, self excluded. Scale shape: the 2-hop
    * expansion keys on the shared middle vertex (Σ deg², maxBucket-
    * bounded); distinct-per-vertex is one combinable agg on (v, u). */
  def q248_two_hop(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs,
        "doc_id", "text", shingleN = 3, bands = 16, rowsPerBand = 4,
        threshold = 0.5, maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val n1 = pairs.select(col("id_a").as("v"), col("id_b").as("u"))
      .unionAll(pairs.select(col("id_b").as("v"), col("id_a").as("u")))
    val n2 = n1.select(col("v"), col("u").as("m"))
      .join(n1.select(col("v").as("m"), col("u")), "m")
      .select(col("v"), col("u"))
    val reach = n1.unionAll(n2)
      .filter(col("v") =!= col("u"))
      .distinct()
      .groupBy(col("v"))
      .agg(count(lit(1)).cast("long").as("reach2"))
    val deg = n1.groupBy(col("v"))
      .agg(count(lit(1)).cast("long").as("degree"))
    deg.join(reach, "v")
      .select(col("v").as("doc_id"), col("degree"), col("reach2"))
      .orderBy(col("doc_id"))
  }

  /** Maximum-inner-product search via the norm-augmentation reduction —
    * the recommender-scoring primitive (user·item, NOT cosine: popular
    * items with big norms should win). The classic trick maps x to
    * [x; √(M²−‖x‖²)] so MIPS order becomes cosine order in the augmented
    * space, which is what lets the existing LSH/IVF cosine
    * infrastructure serve MIPS at scale; the emitted aug_cos column IS
    * that monotone equivalence (rank by ip ≡ rank by aug_cos). Exact
    * inner products use the deterministic index-order float64 fold
    * ([[graft.functions.DotProduct]]) so ranking matches the oracle
    * bit-for-bit. Scale shape: queries broadcast; one pass over the
    * vector table per query batch; M is a one-row max. */
  def q249_mips(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        CosineKnn.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(CosineKnn.dot(col("v"), col("v"))))
    val mx = base.agg(max(col("nrm")).as("m"))
    val queries = broadcast(base.filter(col("id") < 8)
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")))
    val pairs = queries.join(base, col("id") =!= col("query_id"))
      .withColumn("ip", CosineKnn.dot(col("qv"), col("v")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("id").asc)
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .crossJoin(broadcast(mx))
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"),
        col("ip"), (col("ip") / (col("qn") * col("m"))).as("aug_cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** EWMA control chart (λ=0.2) over daily order revenue — the
    * change-detection chart ops teams run on ingest volume; flags days
    * where the smoothed level exits the ±3σ·√(λ/(2−λ)) band. The
    * recursion e_t = λx_t + (1−λ)e_{t−1} is folded into a CLOSED-FORM
    * date-ordered prefix sum (e_t = λ·0.8^t·(S_t − 1.25·x_1) +
    * 0.8^(t−1)·x_1 with S_t = Σ 1.25^i·x_i), so no sequential driver
    * loop — one window pass on the date grain. 1.25^t stays inside
    * float64 range for series up to ~3000 points; longer series need the
    * block-rescaled form (documented tradeoff, the date domain here is
    * bounded). μ/σ for the band fold through exact DECIMAL moments.
    * Outputs round at cents: the running FP fold's association may
    * differ across engines by ~ulp(max term), which 2-decimal rounding
    * absorbs with orders of magnitude to spare (6 decimals did not, at
    * sf0.1). */
  def q250_ewma_control(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
    val mom = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("rev")).cast("decimal(38,2)").as("s1"),
      sum((col("rev") * col("rev")).cast("decimal(38,4)"))
        .cast("decimal(38,4)").as("s2"))
    val w = Window.orderBy(col("d"))
    val cum = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = col("rev").cast("double")
    val t = row_number().over(w).cast("double")
    val seq = daily
      .withColumn("t", t)
      .withColumn("x1", first_value(x).over(cum))
      .withColumn("s_t", sum(pow(lit(1.25d), col("t")) * x).over(cum))
    val ewma = lit(0.2d) * pow(lit(0.8d), col("t")) *
      (col("s_t") - lit(1.25d) * col("x1")) +
      pow(lit(0.8d), col("t") - lit(1.0d)) * col("x1")
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val sd = sqrt((col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / nD) /
      (nD - lit(1.0d)))
    val half = lit(3.0d) * sd * sqrt(lit(0.2d) / lit(1.8d))
    seq.crossJoin(broadcast(mom))
      .select(col("d"), x.as("revenue"),
        round(ewma, 2).as("ewma"),
        round(mu + half, 2).as("ucl"),
        round(mu - half, 2).as("lcl"),
        (ewma > mu + half || ewma < mu - half).as("out_of_control"))
      .orderBy(col("d"))
  }

  /** Exact ACF and Durbin-Levinson PACF at lags 1–3 for the daily
    * revenue series — the Box-Jenkins identification step ("is this
    * AR(1) or AR(2)") behind forecasting the ingest volume. All lag
    * cross-products Σx_t·x_{t+k} fold through DECIMAL(38,4) exactly (the
    * FP-order-immune route); the Durbin-Levinson recursion runs on three
    * scalars with an identically-associated spelling on both engines.
    * Scale shape: the lag self-join keys on the day index (date-grain
    * sized); everything after the first agg is constant-sized. */
  def q251_pacf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
      .withColumn("idx",
        row_number().over(Window.orderBy(col("d"))).cast("long"))
    val mom = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("rev")).cast("decimal(38,2)").as("s1"),
      sum((col("rev") * col("rev")).cast("decimal(38,4)"))
        .cast("decimal(38,4)").as("s2"))
    val a = daily.select(col("idx").as("ia"), col("rev").as("xa"))
      .withColumn("k", explode(array(lit(1L), lit(2L), lit(3L))))
      .withColumn("ib", col("ia") + col("k"))
    val lagSums = a.join(
        daily.select(col("idx").as("ib"), col("rev").as("xb")), "ib")
      .groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum((col("xa") * col("xb")).cast("decimal(38,4)"))
          .cast("decimal(38,4)").as("sk"),
        sum(col("xa")).cast("decimal(38,2)").as("hk"),
        sum(col("xb")).cast("decimal(38,2)").as("tk"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val den = col("s2").cast("double") -
      lit(2.0d) * mu * col("s1").cast("double") + nD * mu * mu
    def rk(k: Int) = max(when(col("k") === k,
      (col("sk").cast("double") -
        mu * (col("hk") + col("tk")).cast("double") +
        col("n_pairs").cast("double") * mu * mu) / den).otherwise(lit(null)))
    val one = lagSums.crossJoin(broadcast(mom))
      .agg(rk(1).as("r1"), rk(2).as("r2"), rk(3).as("r3"),
        max(when(col("k") === 1, col("n_pairs"))).as("np1"),
        max(when(col("k") === 2, col("n_pairs"))).as("np2"),
        max(when(col("k") === 3, col("n_pairs"))).as("np3"))
    val phi22 = (col("r2") - col("r1") * col("r1")) /
      (lit(1.0d) - col("r1") * col("r1"))
    val phi21 = col("r1") - phi22 * col("r1")
    val phi33 = (col("r3") - phi21 * col("r2") - phi22 * col("r1")) /
      (lit(1.0d) - phi21 * col("r1") - phi22 * col("r2"))
    one.select(explode(array(
        struct(lit(1L).as("lag"), col("np1").as("n_pairs"),
          round(col("r1"), 6).as("acf"), round(col("r1"), 6).as("pacf")),
        struct(lit(2L).as("lag"), col("np2").as("n_pairs"),
          round(col("r2"), 6).as("acf"), round(phi22, 6).as("pacf")),
        struct(lit(3L).as("lag"), col("np3").as("n_pairs"),
          round(col("r3"), 6).as("acf"), round(phi33, 6).as("pacf"))))
        .as("row"))
      .select(col("row.lag").as("lag"), col("row.n_pairs").as("n_pairs"),
        col("row.acf").as("acf"), col("row.pacf").as("pacf"))
      .orderBy(col("lag"))
  }

  /** Balanced random-projection-tree ANN (Annoy-style, depth 3 → 8
    * leaves) — the median-split alternative to q31's sign-LSH: leaves are
    * balanced by construction, so no embedding-distribution pathology can
    * make one bucket quadratic (the failure mode the LSH paths guard with
    * maxBucket caps). Full oracle: DuckDB re-derives every median split
    * from the same inlined plane literals ([[graft.similarity.RpTree]]).
    * Scale shape: depth passes of projection + per-node median; query
    * routing touches one ~n/8 leaf per query. */
  def q252_rptree_ann(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.RpTree.topKLeaf(Tables.embeddings(spark, dir),
        "vec_id", "embedding", queryPredicate = col("id") < 50, k = 3,
        depth = 3)
      .orderBy(col("query_id"), col("rank"))

  /** Dirichlet-smoothed query-likelihood retrieval (μ=2000) — the
    * language-modeling IR baseline next to q201's BM25; the standard
    * sparse ranker in every Lucene-era stack. Uses the rank-equivalent
    * decomposition score = Σ_t∈q∩d ln(1 + tf/(μ·P(t|C))) +
    * |q|·ln(μ/(dl+μ)), so only MATCHING (term, doc) pairs join — absent
    * terms cost nothing, which is what makes the posting-list plan work
    * at corpus scale. Per-term lns round through DECIMAL(27,12) before
    * the per-doc sum (FP-order immunity). Candidates = docs matching ≥1
    * query term (postings-driven, the production retrieval contract), so
    * the per-query ranking window runs over the posting union — bounded
    * by document frequency, never the corpus. Scale shape: one
    * (doc, term) tf agg, a term-keyed join against a 12-row broadcast
    * query set, a corpus-LM lookup on the vocabulary grain. */
  def q253_query_likelihood(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val mu = lit(2000.0d)
    val qterms = Seq(
      ("q1", "spark table join"), ("q2", "hash merge sort"),
      ("q3", "fast row scan"), ("q4", "window agg value"))
      .toDF("query_id", "query_text")
      .select(col("query_id"), explode(split(col("query_text"), " ")).as("tok"))
    val qlen = qterms.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("qlen"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val ctf = toks.groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("ctf"))
    val ctot = toks.agg(count(lit(1)).cast("long").as("c_tot"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("dl"))
    val pc = col("ctf").cast("double") / col("c_tot").cast("double")
    val part1 = broadcast(qterms).join(tf, "tok")
      .join(ctf, "tok").crossJoin(broadcast(ctot))
      .select(col("query_id"), col("doc_id"),
        log(lit(1.0d) + col("tf").cast("double") / (mu * pc))
          .cast("decimal(27,12)").as("lt"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("lt")).cast("decimal(27,12)").as("s1"),
        count(lit(1)).cast("long").as("n_matched"))
    val scored = part1.join(docs, "doc_id").join(broadcast(qlen), "query_id")
      .select(col("query_id"), col("doc_id"), col("n_matched"),
        (col("s1").cast("double") +
          col("qlen").cast("double") *
            log(mu / (col("dl").cast("double") + mu))).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("doc_id"), col("rank"),
        col("n_matched"), round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** nDCG@10 of a deterministic coverage-ranked retrieval run against
    * graded term-frequency relevance — the ranking-quality gate every
    * retrieval change ships behind. The system ranks by (distinct query
    * terms matched, shorter doc first); relevance grades are
    * min(3, Σtf) — correlated but not identical signals, so nDCG lands
    * strictly inside (0,1) and actually discriminates. Gains
    * (2^rel−1)/log2(rank+1) round through DECIMAL(27,12) before the
    * 10-row sums; ideal DCG re-ranks the FULL corpus by grade. Scale
    * shape: integer ranking keys (no FP in the cut), two 10-row-per-
    * query windows on bounded keys. */
  def q254_ndcg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val qterms = Seq(
      ("q1", "spark table join"), ("q2", "hash merge sort"),
      ("q3", "fast row scan"), ("q4", "window agg value"))
      .toDF("query_id", "query_text")
      .select(col("query_id"), explode(split(col("query_text"), " ")).as("tok"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val perDoc = broadcast(qterms).join(tf, "tok")
      .groupBy(col("query_id"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("long").as("coverage"),
        least(lit(3L), sum(col("tf"))).cast("long").as("rel"))
    val sysW = Window.partitionBy(col("query_id"))
      .orderBy(col("coverage").desc, col("dl").asc, col("doc_id").asc)
    val gain = (pow(lit(2.0d), col("rel").cast("double")) - lit(1.0d)) /
      (log(2.0, col("rank").cast("double") + lit(1.0d)))
    val dcg = perDoc
      .withColumn("rank", row_number().over(sysW).cast("long"))
      .filter(col("rank") <= 10)
      .withColumn("g", gain.cast("decimal(27,12)"))
      .groupBy(col("query_id"))
      .agg(sum(col("g")).cast("decimal(27,12)").as("dcg"),
        count(lit(1)).cast("long").as("n_ranked"))
    val idealW = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id").asc)
    val idcg = perDoc
      .withColumn("rank", row_number().over(idealW).cast("long"))
      .filter(col("rank") <= 10)
      .withColumn("g", gain.cast("decimal(27,12)"))
      .groupBy(col("query_id"))
      .agg(sum(col("g")).cast("decimal(27,12)").as("idcg"))
    dcg.join(idcg, "query_id")
      .select(col("query_id"), col("n_ranked"),
        round(col("dcg").cast("double"), 6).as("dcg10"),
        round(col("idcg").cast("double"), 6).as("idcg10"),
        round(col("dcg").cast("double") / col("idcg").cast("double"), 6)
          .as("ndcg10"))
      .orderBy(col("query_id"))
  }

  /** Exact phrase search over a positional inverted index — the operator
    * conjunctive postings (q208) cannot express: "hash join" must match
    * ADJACENT tokens, not co-occurrence. Postings carry (doc, token,
    * position); a phrase match is an equi-join of the two term posting
    * lists on (doc, pos+1) — offset-relative, so 0- vs 1-based position
    * conventions cancel. Scale shape: per-term postings are
    * document-frequency-sized, the adjacency join keys on (token-pair,
    * doc, pos) — never a scan of non-matching docs; the per-phrase
    * summary is one combinable agg + a |phrases|-row window. */
  def q255_phrase_search(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val phrases = Seq("hash join", "merge sort", "table scan")
      .toDF("phrase")
      .select(col("phrase"),
        split(col("phrase"), " ").getItem(0).as("t1"),
        split(col("phrase"), " ").getItem(1).as("t2"))
    val pos = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val m1 = broadcast(phrases).join(pos, col("tok") === col("t1"))
      .select(col("phrase"), col("doc_id"), col("pos"))
    val m2 = broadcast(phrases).join(pos, col("tok") === col("t2"))
      .select(col("phrase"), col("doc_id"), (col("pos") - 1).as("pos"))
    val occ = m1.join(m2, Seq("phrase", "doc_id", "pos"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("occ"))
    // top document per phrase as ONE combinable struct-argmax (max occ,
    // then min doc_id via negation) — a per-phrase rank window would own
    // every matching doc of a common phrase in one task
    occ.groupBy(col("phrase"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("occ")).cast("long").as("n_occ"),
        max(struct(col("occ"), (col("doc_id") * lit(-1L)).as("negid")))
          .as("top"))
      .select(col("phrase"), col("n_docs"), col("n_occ"),
        (col("top.negid") * lit(-1L)).as("top_doc_id"),
        col("top.occ").as("top_doc_occ"))
      .orderBy(col("phrase"))
  }

  /** Jonckheere-Terpstra ordered-trend test: does order value rise with
    * priority class? The right test when the alternative is ORDERED
    * (μ₁≤μ₂≤...), where Kruskal-Wallis (q240) throws the ordering
    * information away. The statistic is held exact: 2·J = Σ over group
    * pairs i<j of Σ_v n_jv·(2·#{G_i < v} + #{G_i = v}) — pure integer
    * arithmetic on a DISCRETIZED price grain (floor to $100 buckets, the
    * documented quantization that bounds the grain domain at any corpus
    * size); mean and variance are closed-form integers, z is the only
    * FP. Scale shape: one (group, bucket) agg, per-group prefix sums on
    * the bounded grid, one grid-sized pair join. */
  def q256_jonckheere(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("g"),
        floor(col("o_totalprice") / lit(100.0d)).cast("long").as("v"))
    val gv = src.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).cast("long").as("n"))
    val vals = gv.select(col("v")).distinct()
    val gs = gv.select(col("g")).distinct()
    val grid = vals.crossJoin(broadcast(gs))
      .join(gv, Seq("g", "v"), "left")
      .select(col("g"), col("v"), coalesce(col("n"), lit(0L)).as("n"))
    val cum = grid.withColumn("cum",
        sum(col("n")).over(Window.partitionBy(col("g")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .withColumn("cumlt", (col("cum") - col("n")).cast("long"))
    val twoJ = cum.select(col("g").as("gi"), col("v"),
        col("cumlt"), col("n").as("ni"))
      .join(gv.select(col("g").as("gj"), col("v"), col("n").as("nj")), "v")
      .filter(col("gi") < col("gj"))
      .agg(sum(col("nj") * (lit(2L) * col("cumlt") + col("ni")))
        .cast("long").as("two_j"))
    val sizes = src.groupBy(col("g"))
      .agg(count(lit(1)).cast("long").as("n_g"))
    val tot = sizes.agg(count(lit(1)).cast("long").as("k"),
      sum(col("n_g")).cast("long").as("n_tot"),
      sum(col("n_g") * col("n_g")).cast("long").as("sum_n2"),
      sum(col("n_g") * col("n_g") * (lit(2L) * col("n_g") + lit(3L)))
        .cast("long").as("sum_n23"))
    val nD = col("n_tot").cast("double")
    val ej = (nD * nD - col("sum_n2").cast("double")) / lit(4.0d)
    val varj = (nD * nD * (lit(2.0d) * nD + lit(3.0d)) -
      col("sum_n23").cast("double")) / lit(72.0d)
    twoJ.crossJoin(tot)
      .select(col("k"), col("n_tot"), col("two_j"),
        round(ej, 6).as("e_j"),
        round((col("two_j").cast("double") / lit(2.0d) - ej) / sqrt(varj), 6)
          .as("z_score"))
  }

  /** SCD2 snapshot diff — "what changed between the Jan-10 and Jan-20
    * state of the user dimension": the audit report every slowly-changing
    * warehouse table ships with. Two point-in-time reads of the SAME
    * [[graft.transform.Scd2]] history (one pass, no per-snapshot
    * recompute of the source), full-outer-joined on the business key,
    * classified ADDED / CHANGED / REMOVED. Scale shape: the history build
    * is one per-key ordered window; each snapshot is a validity-interval
    * filter on it; the diff is one key-keyed join. */
  def q257_snapshot_diff(spark: SparkSession, dir: String): DataFrame = {
    val t1 = 1704844800000000L // 2024-01-10T00:00:00Z epoch micros
    val t2 = 1705708800000000L // 2024-01-20T00:00:00Z
    val hist = graft.transform.Scd2.fromHistory(Tables.events(spark, dir),
        Seq("user_id"), "ts", tiebreak = Seq("event_id"))
      .select(col("user_id"), col("event_id"), col("valid_from_us"),
        col("valid_to_us"))
      .localCheckpoint(true) // both snapshots read the one history build
    def snap(t: Long) = hist
      .filter(col("valid_from_us") <= t && col("valid_to_us") > t)
    val s1 = snap(t1).select(col("user_id"), col("event_id").as("old_event"))
    val s2 = snap(t2).select(col("user_id"), col("event_id").as("new_event"))
    s1.join(s2, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("old_event").isNull, lit("ADDED"))
          .when(col("new_event").isNull, lit("REMOVED"))
          .when(col("old_event") =!= col("new_event"), lit("CHANGED"))
          .otherwise(lit("UNCHANGED")).as("change_type"),
        col("old_event"), col("new_event"))
      .filter(col("change_type") =!= "UNCHANGED")
      .orderBy(col("user_id"))
  }

  /** Sorted-neighborhood blocking dedup — the sort-merge alternative to
    * LSH blocking (Hernández-Stolfo): sort once on a normalized prefix
    * key, compare only rows within a fixed window of the sort order, so
    * candidate count is n·(w−1) BY CONSTRUCTION (no bucket-skew cap
    * needed — the property LSH needs maxBucket to approximate). Survivor
    * pairs are confirmed with exact word-3-shingle Jaccard. Scale shape:
    * one range-partitioned sort + rank-offset self-join on (rank+d) keys;
    * shingle arrays join back by id for candidates only. */
  def q258_sorted_neighborhood(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // sort-order position via the range-partitioned PrefixSum — the rank
    // is over the full DOC grain, the one window no partitioning bounds
    val keyed = graft.transform.PrefixSum.rowNumber(
      docs.select(col("doc_id"),
        substring(TextOps.normalize(col("text")), 1, 24).as("sk")),
      Nil, Seq(col("sk"), col("doc_id")), "rnk")
    val a = keyed.select(col("doc_id").as("id_a"), col("rnk").as("ra"))
      .withColumn("d", explode(array(lit(1L), lit(2L), lit(3L))))
      .withColumn("rb", col("d") + col("ra"))
    val cand = a.join(keyed.select(col("doc_id").as("id_b"),
        col("rnk").as("rb")), "rb")
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        (col("rb") - col("ra")).as("rank_dist"))
    val grams = docs.select(col("doc_id"),
      array_sort(TextOps.shingles(col("text"), 3)).as("sg"))
    cand
      .join(grams.select(col("doc_id").as("id_a"), col("sg").as("ga")), "id_a")
      .join(grams.select(col("doc_id").as("id_b"), col("sg").as("gb")), "id_b")
      .withColumn("jaccard",
        graft.functions.JaccardSim.jaccardSimSorted(col("ga"), col("gb")))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), col("rank_dist"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Rolling 7-day revenue via a RANGE frame on the day number — the
    * value-based frame ROWS windows cannot express when dates have gaps:
    * "the trailing calendar week", not "the trailing 7 observed rows".
    * Revenue folds through DECIMAL inside the frame (exact, order-free);
    * days_present exposes the gap handling. Scale shape: one agg to the
    * date grain, then a range-frame window on the bounded calendar
    * domain. */
  def q259_rolling_range(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
      .withColumn("daynum",
        datediff(col("d"), to_date(lit("1992-01-01"))).cast("long"))
    val w = Window.orderBy(col("daynum")).rangeBetween(-6, 0)
    daily
      .withColumn("rev7", sum(col("rev")).over(w).cast("decimal(38,2)"))
      .withColumn("days_present", count(lit(1)).over(w).cast("long"))
      .select(col("d"), col("rev").cast("double").as("revenue"),
        col("rev7").cast("double").as("rev_7d"), col("days_present"))
      .orderBy(col("d"))
  }

  /** Equi-depth (equi-height) histogram of l_extendedprice in 8 buckets —
    * the optimizer-statistics structure behind selectivity estimation
    * (q170/q181's planning family): every bucket holds ~n/8 rows, so
    * skewed value mass cannot blind a range predicate the way q235's
    * equi-WIDTH bins can. Bucket assignment is pure integer arithmetic on
    * the value grain's cumulative counts (a grain value lands in the
    * bucket of its last row's rank), so no percentile interpolation
    * convention can diverge. Scale shape: one grain agg + one prefix sum
    * on the bounded price domain. */
  def q260_equidepth_histogram(spark: SparkSession, dir: String): DataFrame = {
    // pin the value grain: it feeds tot AND the prefix pass (guide §1.2)
    val grain = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").cast("decimal(18,2)").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint(true)
    val tot = grain.agg(sum(col("n")).cast("long").as("n_tot"))
    val cum = graft.transform.PrefixSum.runningSums(grain, Seq(col("v")),
      Seq("n" -> "cum"))
    cum.crossJoin(broadcast(tot))
      .withColumn("bucket",
        (floor(((col("cum") - lit(1L)) * lit(8L)).cast("double") /
          col("n_tot").cast("double")) + lit(1L)).cast("long"))
      .groupBy(col("bucket"))
      .agg(min(col("v")).cast("double").as("lo"),
        max(col("v")).cast("double").as("hi"),
        sum(col("n")).cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_distinct"))
      .orderBy(col("bucket"))
  }

  /** Mutual k-NN graph over the embedding corpus (k=5, cosine) — the
    * symmetrized neighborhood graph UMAP/HDBSCAN-class structure
    * discovery starts from: an edge survives only if BOTH endpoints rank
    * each other in their top-5, which strips hub vectors' asymmetric
    * fan-in. Exact float64 folds make both directions' ranks
    * oracle-reproducible. Scale shape: this exact form is the n² audit
    * grid; production swaps the candidate stage for q31's LSH or q252's
    * RP-tree leaves and keeps the mutual filter — the filter is one
    * self-join of the (src,dst,rank) list either way. */
  def q261_mutual_knn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fan before the pin: the n² audit grid otherwise evaluates every
    // dot product in the single scan task (guide §2.5)
    val base = Tables.fan(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        CosineKnn.toDouble(col("embedding")).as("v")))
      .withColumn("nrm", sqrt(CosineKnn.dot(col("v"), col("v"))))
      .localCheckpoint(true)
    val l = base.select(col("id").as("src"), col("v").as("va"),
      col("nrm").as("na"))
    val r = base.select(col("id").as("dst"), col("v").as("vb"),
      col("nrm").as("nb"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst").asc)
    val knn = l.join(r, col("src") =!= col("dst"))
      .withColumn("cos",
        CosineKnn.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("src"), col("dst"), col("cos"), col("rank"))
    val fwd = knn.filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"),
        col("cos"), col("rank").as("rank_ab"))
    val bwd = knn.filter(col("src") > col("dst"))
      .select(col("dst").as("id_a"), col("src").as("id_b"),
        col("rank").as("rank_ba"))
    fwd.join(bwd, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("cos"), col("rank_ab"),
        col("rank_ba"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Average precision + interpolated precision-recall points for the
    * value-predicts-purchase classifier — the imbalanced-class companion
    * to q221's ROC-AUC (PR is the honest curve when positives are rare;
    * ROC flatters). The threshold sweep runs on the DESCENDING money
    * grain: AP = (1/n_pos)·Σ_v p_v·P(v) with every cumulative count an
    * exact integer, per-grain terms rounded through DECIMAL(27,12)
    * before the sum; interpolated P@R≥x is a max over identically-
    * computed doubles. Scale shape: one grain agg + one ordered prefix
    * window on the bounded money domain — same discipline as q221. */
  def q262_pr_curve(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("value").cast("decimal(18,2)").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val grain = ev.groupBy(col("v"))
      .agg(count(lit(1)).cast("long").as("n_v"),
        sum(col("pos")).cast("long").as("p_v"))
    // DESCENDING threshold sweep: both cumulatives share one PrefixSum pass
    val cum = graft.transform.PrefixSum.runningSums(grain,
      Seq(col("v").desc), Seq("n_v" -> "cumn", "p_v" -> "cump"))
    val tot = grain.agg(sum(col("p_v")).cast("long").as("n_pos"),
      (sum(col("n_v")) - sum(col("p_v"))).cast("long").as("n_neg"))
    val prec = col("cump").cast("double") / col("cumn").cast("double")
    val rec = col("cump").cast("double") / col("n_pos").cast("double")
    cum.crossJoin(broadcast(tot))
      .agg(max(col("n_pos")).as("n_pos"), max(col("n_neg")).as("n_neg"),
        round(sum((col("p_v").cast("double") * prec)
          .cast("decimal(27,12)")).cast("double") /
          max(col("n_pos")).cast("double"), 6).as("avg_precision"),
        round(max(when(rec >= 0.25, prec)), 6).as("p_at_r25"),
        round(max(when(rec >= 0.5, prec)), 6).as("p_at_r50"),
        round(max(when(rec >= 0.75, prec)), 6).as("p_at_r75"))
  }

  /** Classical multiplicative seasonal decomposition of daily revenue —
    * trend (centered 7-day moving average), day-of-week seasonal index,
    * remainder: the pre-STL decomposition every ops dashboard uses to
    * separate "weekend dip" from "real drop". Trend folds through
    * DECIMAL inside the ROWS ±3 frame (exact); seasonal indexes are
    * means of per-day ratios rounded through DECIMAL(27,12) then
    * normalized to mean 1 over the 7-slot week; day-of-week is
    * daynum mod 7 (pure integer — no engine weekday-origin convention
    * can disagree). Scale shape: everything after the first agg lives on
    * the bounded calendar grain. */
  def q263_seasonal_decompose(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
      .withColumn("daynum",
        datediff(col("d"), to_date(lit("1992-01-01"))).cast("long"))
      .withColumn("dow", pmod(col("daynum"), lit(7L)).cast("long"))
    val wMa = Window.orderBy(col("daynum")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("win_n", count(lit(1)).over(wMa).cast("long"))
      .withColumn("win_sum", sum(col("rev")).over(wMa).cast("decimal(38,2)"))
      .filter(col("win_n") === 7)
      .withColumn("trend",
        col("win_sum").cast("double") / lit(7.0d))
      .withColumn("ratio", col("rev").cast("double") / col("trend"))
    val sIdx = trended.groupBy(col("dow"))
      .agg((sum(col("ratio").cast("decimal(27,12)")).cast("double") /
        count(lit(1)).cast("double")).as("s_raw"))
    val sNormD = sIdx.agg(
      (sum(round(col("s_raw"), 12).cast("decimal(27,12)")).cast("double") /
        lit(7.0d)).as("s_mean"))
    val sFinal = sIdx.crossJoin(broadcast(sNormD))
      .select(col("dow"), (col("s_raw") / col("s_mean")).as("seasonal"))
    trended.join(broadcast(sFinal), "dow")
      .select(col("d"), col("rev").cast("double").as("revenue"),
        round(col("trend"), 6).as("trend"), col("dow"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("ratio") / col("seasonal"), 6).as("remainder"))
      .orderBy(col("d"))
  }

  /** SAX symbolization of the daily revenue series (PAA over 30-day
    * segments, 4-symbol alphabet at the N(0,1) quartile breakpoints
    * ±0.6745) — the symbolic-approximation operator (Lin et al.) behind
    * motif discovery and cheap whole-series indexing. PAA means fold
    * through DECIMAL; z-normalization uses the DAILY series' exact
    * DECIMAL moments; breakpoints are literals on both engines, and the
    * emitted motif3 column is the 3-segment symbol trigram used for
    * motif counting. Scale shape: one agg to the date grain, one agg to
    * the segment grain, two segment-grain self-joins. */
  def q264_sax(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
      .withColumn("daynum",
        datediff(col("d"), to_date(lit("1992-01-01"))).cast("long"))
    val mom = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("rev")).cast("decimal(38,2)").as("s1"),
      sum((col("rev") * col("rev")).cast("decimal(38,4)"))
        .cast("decimal(38,4)").as("s2"))
    val d0 = daily.agg(min(col("daynum")).as("day0"))
    val segs = daily.crossJoin(broadcast(d0))
      .withColumn("seg", floor((col("daynum") - col("day0"))
        .cast("double") / lit(30.0d)).cast("long"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("rev")).cast("decimal(38,2)").as("seg_sum"))
      .withColumn("paa",
        col("seg_sum").cast("double") / col("n_days").cast("double"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val sd = sqrt((col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / nD) /
      (nD - lit(1.0d)))
    val z = (col("paa") - mu) / sd
    val sym = when(z < -0.6745, lit("a")).when(z < 0.0, lit("b"))
      .when(z < 0.6745, lit("c")).otherwise(lit("d"))
    val symd = segs.crossJoin(broadcast(mom))
      .select(col("seg"), col("n_days"), round(col("paa"), 2).as("paa"),
        round(z, 6).as("z"), sym.as("symbol"))
    val s1n = symd.select((col("seg") - 1).as("seg"),
      col("symbol").as("sym1"))
    val s2n = symd.select((col("seg") - 2).as("seg"),
      col("symbol").as("sym2"))
    symd.join(s1n, Seq("seg"), "left").join(s2n, Seq("seg"), "left")
      .select(col("seg"), col("n_days"), col("paa"), col("z"),
        col("symbol"),
        when(col("sym1").isNotNull && col("sym2").isNotNull,
          concat(col("symbol"), col("sym1"), col("sym2"))).as("motif3"))
      .orderBy(col("seg"))
  }

  /** Difference-in-differences on purchase value across the Jan-15
    * mid-stream boundary — the causal-inference workhorse when a change
    * ships to one cohort mid-period: DiD = (treat_post − treat_pre) −
    * (ctrl_post − ctrl_pre) cancels both the cohort baseline and the
    * common time shock that a naive post-only comparison absorbs as
    * bias. Cohorts are the q154 deterministic hash split; all four cell
    * sums fold through DECIMAL, so the estimate is four exact divisions
    * and three subtractions. Scale shape: one combinable 4-cell
    * aggregate over the fact stream — nothing after it exceeds one row. */
  def q265_did(spark: SparkSession, dir: String): DataFrame = {
    val cut = 1705276800000000L // 2024-01-15T00:00:00Z epoch micros
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(graft.functions.StableHash.bucket(col("user_id"), 2).as("arm"),
        (unix_micros(col("ts")) >= cut).as("post"),
        col("value").cast("decimal(18,2)").as("v"))
    val cells = ev.groupBy(col("arm"), col("post"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("v")).cast("decimal(38,2)").as("s"))
    def cell(arm: Int, post: Boolean, c: String) =
      max(when(col("arm") === arm && col("post") === post, col(c)))
    val one = cells.agg(
      cell(1, post = false, "n").as("n_t_pre"),
      cell(1, post = true, "n").as("n_t_post"),
      cell(0, post = false, "n").as("n_c_pre"),
      cell(0, post = true, "n").as("n_c_post"),
      cell(1, post = false, "s").as("s_t_pre"),
      cell(1, post = true, "s").as("s_t_post"),
      cell(0, post = false, "s").as("s_c_pre"),
      cell(0, post = true, "s").as("s_c_post"))
    def m(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    one.select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
      col("n_c_post"),
      round(m("s_t_pre", "n_t_pre"), 6).as("mean_t_pre"),
      round(m("s_t_post", "n_t_post"), 6).as("mean_t_post"),
      round(m("s_c_pre", "n_c_pre"), 6).as("mean_c_pre"),
      round(m("s_c_post", "n_c_post"), 6).as("mean_c_post"),
      round((m("s_t_post", "n_t_post") - m("s_t_pre", "n_t_pre")) -
        (m("s_c_post", "n_c_post") - m("s_c_pre", "n_c_pre")), 6)
        .as("did_estimate"))
  }

  /** Single-changepoint detection by binary segmentation on daily
    * revenue — argmax over split points of the between-segment
    * sum-of-squares gain, the recursive-segmentation primitive CUSUM
    * (q158) only flags but does not localize. Prefix sums are exact
    * DECIMAL (decimal addition is associative, so the running window is
    * order-immune); every candidate's gain is the same deterministic
    * double expression on both engines, so the argmax (gain desc, day
    * tiebreak) cannot diverge. A 7-day margin excludes degenerate edge
    * splits. The reported gain is scaled to millions before rounding:
    * at ~1e12 magnitude the DECIMAL(38,4)→double conversions differ
    * between engines by ~1500 ulps (sub-unit), which the scaled round
    * absorbs. Scale shape: one date-grain agg, one prefix window, one
    * grain-sized argmax — candidates are calendar-bounded. */
  def q266_changepoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
      .withColumn("t",
        row_number().over(Window.orderBy(col("d"))).cast("long"))
    val cum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = daily
      .withColumn("cs", sum(col("rev")).over(cum).cast("decimal(38,2)"))
      .withColumn("cs2", sum((col("rev") * col("rev"))
        .cast("decimal(38,4)")).over(cum).cast("decimal(38,4)"))
    val tot = pre.agg(max(col("t")).as("n"),
      max(col("cs")).as("s_tot"), max(col("cs2")).as("s2_tot"))
    val withTot = pre.crossJoin(broadcast(tot))
      .filter(col("t") >= 7 && col("t") <= col("n") - 7)
    val nlD = col("t").cast("double")
    val nrD = (col("n") - col("t")).cast("double")
    val slD = col("cs").cast("double")
    val srD = (col("s_tot") - col("cs")).cast("double")
    val ssL = col("cs2").cast("double") - slD * slD / nlD
    val ssR = (col("s2_tot") - col("cs2")).cast("double") - srD * srD / nrD
    val ssT = col("s2_tot").cast("double") -
      col("s_tot").cast("double") * col("s_tot").cast("double") /
        col("n").cast("double")
    val gain = ssT - (ssL + ssR)
    val scored = withTot.select(col("d"), col("t"), col("n"),
      round(slD / nlD, 6).as("mean_left"),
      round(srD / nrD, 6).as("mean_right"),
      gain.as("gain_raw"))
    scored
      .withColumn("rn", row_number().over(
        Window.orderBy(col("gain_raw").desc, col("t"))))
      .filter(col("rn") === 1)
      .select(col("d").as("split_day"), col("t").as("t_index"),
        col("t").as("n_left"), (col("n") - col("t")).as("n_right"),
        col("mean_left"), col("mean_right"),
        round(col("gain_raw") / lit(1.0e6d), 3).as("ss_gain_millions"))
  }

  /** CUPED variance reduction for the purchase A/B test — the
    * pre-experiment-covariate adjustment every mature experimentation
    * platform applies before reading a result: θ = cov(pre,post)/var(pre)
    * and var(Y_adj) = var(Y) − cov²/var(X) IN CLOSED FORM from exact
    * DECIMAL moment sums, so no second adjusted-data pass exists to
    * accumulate FP error. Reports the variance reduction and both the
    * raw and CUPED treatment-effect estimates. Scale shape: one per-user
    * two-window aggregate, one pooled + per-arm moment aggregate — the
    * entire analysis is two combinable passes. */
  def q267_cuped(spark: SparkSession, dir: String): DataFrame = {
    val cut = 1705276800000000L // 2024-01-15T00:00:00Z
    val perUser = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value").cast("decimal(18,2)").as("v"),
        (unix_micros(col("ts")) >= cut).as("post"))
      .groupBy(col("user_id"))
      .agg(sum(when(!col("post"), col("v")).otherwise(lit(0)
          .cast("decimal(18,2)"))).cast("decimal(18,2)").as("x"),
        sum(when(col("post"), col("v")).otherwise(lit(0)
          .cast("decimal(18,2)"))).cast("decimal(18,2)").as("y"))
      .select(graft.functions.StableHash.bucket(col("user_id"), 2).as("arm"),
        col("x"), col("y"))
    val mom = perUser.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("decimal(38,2)").as("sx"),
      sum(col("y")).cast("decimal(38,2)").as("sy"),
      sum((col("x") * col("x")).cast("decimal(38,4)"))
        .cast("decimal(38,4)").as("sxx"),
      sum((col("y") * col("y")).cast("decimal(38,4)"))
        .cast("decimal(38,4)").as("syy"),
      sum((col("x") * col("y")).cast("decimal(38,4)"))
        .cast("decimal(38,4)").as("sxy"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).cast("long").as("n_a"),
        sum(col("x")).cast("decimal(38,2)").as("sx_a"),
        sum(col("y")).cast("decimal(38,2)").as("sy_a"))
    val armRow = arms.agg(
      max(when(col("arm") === 1, col("n_a"))).as("n_t"),
      max(when(col("arm") === 0, col("n_a"))).as("n_c"),
      max(when(col("arm") === 1, col("sx_a"))).as("sx_t"),
      max(when(col("arm") === 0, col("sx_a"))).as("sx_c"),
      max(when(col("arm") === 1, col("sy_a"))).as("sy_t"),
      max(when(col("arm") === 0, col("sy_a"))).as("sy_c"))
    val nD = col("n").cast("double")
    val mx = col("sx").cast("double") / nD
    val my = col("sy").cast("double") / nD
    val varX = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / nD) /
      (nD - lit(1.0d))
    val varY = (col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double") / nD) /
      (nD - lit(1.0d))
    val covXY = (col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double") / nD) /
      (nD - lit(1.0d))
    val theta = covXY / varX
    val varAdj = varY - covXY * covXY / varX
    def am(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    val diffRaw = am("sy_t", "n_t") - am("sy_c", "n_c")
    val diffCuped = (am("sy_t", "n_t") -
      theta * (am("sx_t", "n_t") - mx)) -
      (am("sy_c", "n_c") - theta * (am("sx_c", "n_c") - mx))
    mom.crossJoin(armRow)
      .select(col("n").as("n_users"), col("n_t"), col("n_c"),
        round(theta, 6).as("theta"),
        round(varY, 6).as("var_raw"),
        round(varAdj, 6).as("var_cuped"),
        round((lit(1.0d) - varAdj / varY) * lit(100.0d), 6)
          .as("reduction_pct"),
        round(diffRaw, 6).as("diff_raw"),
        round(diffCuped, 6).as("diff_cuped"))
  }

  /** Newman modularity of the LANGUAGE partition over the near-dup graph
    * — "do near-duplicates concentrate within languages?": Q = Σ_c
    * [e_c/m − (d_c/2m)²] compares intra-language edge mass against the
    * degree-preserving random expectation. Unlike the CC partition
    * (where Q degenerates — every edge is intra-component), the language
    * partition is exogenous, so Q actually measures assortativity of the
    * dup structure. Edge/degree masses are exact integers; per-community
    * terms round through DECIMAL(27,12) before the Q sum. Scale shape:
    * one id→lang join on the edge list + two combinable aggregates. */
  def q268_modularity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.similarity.MinHashLsh.nearDuplicatePairs(docs,
        "doc_id", "text", shingleN = 3, bands = 16, rowsPerBand = 4,
        threshold = 0.5, maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val langs = docs.select(col("doc_id"), col("lang"))
    val tagged = pairs
      .join(langs.select(col("doc_id").as("id_a"), col("lang").as("la")),
        "id_a")
      .join(langs.select(col("doc_id").as("id_b"), col("lang").as("lb")),
        "id_b")
    val m = tagged.agg(count(lit(1)).cast("long").as("m"))
    val intra = tagged.filter(col("la") === col("lb"))
      .groupBy(col("la").as("lang"))
      .agg(count(lit(1)).cast("long").as("e_c"))
    val deg = tagged.select(col("id_a").as("v"), col("la").as("lang"))
      .unionAll(tagged.select(col("id_b").as("v"), col("lb").as("lang")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("d_c"))
    val mD = col("m").cast("double")
    val frac = col("e_c").cast("double") / mD
    val expd = (col("d_c").cast("double") / (lit(2.0d) * mD)) *
      (col("d_c").cast("double") / (lit(2.0d) * mD))
    val terms = deg.join(intra, Seq("lang"), "left")
      .select(col("lang"), col("d_c"),
        coalesce(col("e_c"), lit(0L)).as("e_c"))
      .crossJoin(broadcast(m))
      .select(col("lang"), col("e_c"), col("d_c"),
        round(frac - expd, 12).cast("decimal(27,12)").as("term"))
    val q = terms.agg(
      round(sum(col("term")).cast("double"), 6).as("modularity_q"))
    terms.crossJoin(broadcast(q)).crossJoin(broadcast(m))
      .select(col("lang"), col("e_c"), col("d_c"),
        round(col("term").cast("double"), 6).as("q_term"),
        col("modularity_q"), col("m").as("n_edges"))
      .orderBy(col("lang"))
  }

  /** Skyline (Pareto frontier) of parts on (retail price ↓, size ↑) —
    * the preference-query operator (Börzsönyi's SKYLINE OF): a part
    * survives iff no other part is cheaper-or-equal AND bigger-or-equal
    * with one strict. Computed sort-free of n² via two running maxima on
    * the price grain: best size among STRICTLY cheaper parts (an
    * EXCLUSIVE [[graft.transform.PrefixSum]] running max) and best size
    * among equal-priced parts (the grain max itself); both comparisons
    * are pure integers. Scale shape: one grain agg + one range-partitioned
    * prefix scan + one grain join-back — the classic O(n log n) 2-D
    * skyline, never the quadratic dominance join and never a
    * single-partition window. */
  def q269_skyline(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_size").cast("long").as("size"),
        (col("p_retailprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
    // collapse to the price grain first (best_eq = the grain max), then a
    // range-partitioned EXCLUSIVE running max gives best-among-strictly-
    // cheaper — no single-partition RANGE window over the parts table
    val grain = parts.groupBy(col("cents"))
      .agg(max(col("size")).as("best_eq"))
    val bl = graft.transform.PrefixSum.groupedRunningAggs(grain, Nil,
      Seq(col("cents")), Seq("best_eq" -> "best_lt"),
      graft.transform.PrefixSum.RunMax, exclusive = true)
    val flagged = parts.join(bl, "cents")
    flagged
      .filter((col("best_lt").isNull || col("best_lt") < col("size")) &&
        col("best_eq") === col("size"))
      .select(col("p_partkey"), (col("cents").cast("double") / 100.0)
        .as("retail_price"), col("size"))
      .orderBy(col("retail_price"), col("p_partkey"))
  }

  /** Two-sample Kolmogorov-Smirnov between the hash-split arms' value
    * distributions — the A/A distribution-equality check run before
    * trusting an experiment split (q154 compares means; KS catches a
    * split that skews SHAPE). The sup-gap argmax runs on INTEGERS:
    * maximize |cum₁·n₂ − cum₂·n₁| over the money grain, so no FP value
    * participates in locating D; the statistic itself is one exact
    * rational division at the end. Scale shape: one (arm, value) grain
    * agg + one prefix window on the bounded money domain. */
  def q270_ks_two_sample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(graft.functions.StableHash.bucket(col("user_id"), 2).as("arm"),
        col("value").cast("decimal(18,2)").as("v"))
    val grain = ev.groupBy(col("v"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long")
          .as("n0v"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long")
          .as("n1v"))
    // both arms' cumulatives share one range-partitioned PrefixSum pass
    val cum = graft.transform.PrefixSum.runningSums(grain, Seq(col("v")),
      Seq("n0v" -> "c0", "n1v" -> "c1"))
    val tot = grain.agg(sum(col("n0v")).cast("long").as("n0"),
      sum(col("n1v")).cast("long").as("n1"))
    val gap = abs(col("c0") * col("n1") - col("c1") * col("n0"))
    val scored = cum.crossJoin(broadcast(tot))
      .select(col("v"), col("n0"), col("n1"), gap.as("gap_num"))
    // argmax (largest gap, then smallest v) as ONE combinable struct-max
    // — no global ordered window over the value grain
    scored
      .agg(max(struct(col("gap_num"), (col("v") * lit(-1)).as("negv"),
        col("n0"), col("n1"))).as("m"))
      .select(col("m.n0").as("n0"), col("m.n1").as("n1"),
        col("m.gap_num").as("gap_num"),
        (col("m.negv") * lit(-1)).as("v"))
      .select(col("n0"), col("n1"), col("gap_num"),
        col("v").cast("double").as("at_value"),
        round(col("gap_num").cast("double") /
          (col("n0").cast("double") * col("n1").cast("double")), 6)
          .as("d_stat"),
        round(col("gap_num").cast("double") /
          (col("n0").cast("double") * col("n1").cast("double")) *
          sqrt(col("n0").cast("double") * col("n1").cast("double") /
            (col("n0").cast("double") + col("n1").cast("double"))), 6)
          .as("ks_z"))
  }

  /** Goertzel-style single-bin periodogram of daily revenue at the 7/30/
    * 90-day periods — "which cadence dominates the series" without a full
    * FFT (at fixed business frequencies the three-bin probe IS the
    * production shape). Determinism trick: the trig factor is rounded to
    * 12 decimals FIRST (absorbing last-ulp libm cos/sin differences
    * while the value is O(1)) and THEN multiplied as DECIMAL by the
    * exact DECIMAL revenue — so the Fourier sums are exact decimal
    * arithmetic, immune to both FP sum order and libm drift at 1e7
    * magnitudes. Variance-fraction uses the series' exact moments.
    * Scale shape: date-grain only, one pass per fixed frequency. */
  def q271_periodogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
      .withColumn("t",
        row_number().over(Window.orderBy(col("d"))).cast("long"))
    val mom = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("rev")).cast("decimal(38,2)").as("s1"),
      sum((col("rev") * col("rev")).cast("decimal(38,4)"))
        .cast("decimal(38,4)").as("s2"))
    val twoPi = lit(6.283185307179586d)
    val withP = daily
      .withColumn("period", explode(array(lit(7L), lit(30L), lit(90L))))
      .withColumn("theta",
        twoPi * col("t").cast("double") / col("period").cast("double"))
    val sums = withP
      .withColumn("cf", round(cos(col("theta")), 12).cast("decimal(14,12)"))
      .withColumn("sf", round(sin(col("theta")), 12).cast("decimal(14,12)"))
      .groupBy(col("period"))
      .agg(sum((col("cf") * col("rev")).cast("decimal(38,14)"))
          .cast("decimal(38,14)").as("a"),
        sum((col("sf") * col("rev")).cast("decimal(38,14)"))
          .cast("decimal(38,14)").as("b"))
    val nD = col("n").cast("double")
    val ss = col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / nD
    val aD = col("a").cast("double")
    val bD = col("b").cast("double")
    val power = aD * aD + bD * bD
    sums.crossJoin(broadcast(mom))
      .select(col("period"),
        round(aD / lit(1.0e6d), 3).as("a_millions"),
        round(bD / lit(1.0e6d), 3).as("b_millions"),
        round(power * lit(2.0d) / (nD * ss), 6).as("var_fraction"))
      .orderBy(col("period"))
  }

  /** Welch's heteroscedastic one-way ANOVA across event types — the
    * equality-of-means test q241's Brown-Forsythe gates FOR: when
    * spreads differ, classic ANOVA's pooled variance is wrong and
    * Welch's weights w=n/s² repair it. All group moments are exact
    * DECIMAL sums; the three cross-group reductions (ΣW, Σw·m, and the
    * two quadratic-term sums) round each term to 12 decimals and fold
    * through DECIMAL so no 5-element FP sum order can flip the
    * statistic; Welch-Satterthwaite df₂ comes from the same sums.
    * Scale shape: one combinable (n, Σx, Σx²) aggregate per group —
    * nothing after it exceeds k rows. */
  def q272_welch_anova(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type").as("g"),
        col("value").cast("decimal(18,2)").as("v"))
    val gs = ev.groupBy(col("g"))
      .agg(count(lit(1)).cast("long").as("n_g"),
        sum(col("v")).cast("decimal(38,2)").as("s1"),
        sum((col("v") * col("v")).cast("decimal(38,4)"))
          .cast("decimal(38,4)").as("s2"))
    val nD = col("n_g").cast("double")
    val mean = col("s1").cast("double") / nD
    val s2g = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / nD) /
      (nD - lit(1.0d))
    val wg = nD / s2g
    val base = gs.select(col("g"), col("n_g"),
      round(wg, 12).cast("decimal(27,12)").as("w"),
      round(wg * mean, 6).cast("decimal(38,6)").as("wm"))
    val tots = base.agg(count(lit(1)).cast("long").as("k"),
      sum(col("w")).cast("decimal(38,12)").as("w_tot"),
      sum(col("wm")).cast("decimal(38,6)").as("wm_tot"))
    val mw = col("wm_tot").cast("double") / col("w_tot").cast("double")
    val joined = gs.crossJoin(broadcast(tots))
    val dev = mean - mw
    val aTerm = round(wg * dev * dev, 6).cast("decimal(38,6)")
    val bTerm = round(
      (lit(1.0d) - wg / col("w_tot").cast("double")) *
        (lit(1.0d) - wg / col("w_tot").cast("double")) / (nD - lit(1.0d)),
      12).cast("decimal(27,12)")
    val reduced = joined.select(col("k"), col("n_g"),
        aTerm.as("a_t"), bTerm.as("b_t"))
      .agg(max(col("k")).as("k"), sum(col("n_g")).cast("long").as("n_tot"),
        sum(col("a_t")).cast("double").as("a_sum"),
        sum(col("b_t")).cast("double").as("b_sum"))
    val kD = col("k").cast("double")
    val fW = (col("a_sum") / (kD - lit(1.0d))) /
      (lit(1.0d) + lit(2.0d) * (kD - lit(2.0d)) /
        (kD * kD - lit(1.0d)) * col("b_sum"))
    val df2 = (kD * kD - lit(1.0d)) / (lit(3.0d) * col("b_sum"))
    reduced.select(col("k"), col("n_tot"),
      round(fW, 6).as("f_welch"),
      (col("k") - 1L).as("df1"),
      round(df2, 6).as("df2"))
  }

  /** Bandt-Pompe permutation entropy (order 3) of daily revenue — the
    * model-free complexity measure: near 1 the series is
    * indistinguishable from noise at this scale, near 0 it is strongly
    * patterned. Ordinal patterns come from exact DECIMAL comparisons
    * with the standard earlier-index-wins tie rule, so every triple maps
    * to one of 6 integer codes identically on both engines; only the
    * −Σp·ln p fold is FP, with per-pattern terms rounded through
    * DECIMAL(27,12). Scale shape: two grain-sized lag joins + one 6-row
    * aggregate. */
  def q273_permutation_entropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
      .withColumn("t",
        row_number().over(Window.orderBy(col("d"))).cast("long"))
      .select(col("t"), col("rev"))
    val tri = daily.select(col("t"), col("rev").as("x1"))
      .join(daily.select((col("t") - 1).as("t"), col("rev").as("x2")), "t")
      .join(daily.select((col("t") - 2).as("t"), col("rev").as("x3")), "t")
    // "u@i precedes v@j": u < v, or equal values with the earlier index
    def prec(u: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column,
             earlier: Boolean) =
      when(u < v || (u === v && lit(earlier)), 1L).otherwise(0L)
    val r1 = lit(1L) + prec(col("x2"), col("x1"), earlier = false) +
      prec(col("x3"), col("x1"), earlier = false)
    val r2 = lit(1L) + prec(col("x1"), col("x2"), earlier = true) +
      prec(col("x3"), col("x2"), earlier = false)
    val r3 = lit(1L) + prec(col("x1"), col("x3"), earlier = true) +
      prec(col("x2"), col("x3"), earlier = true)
    val pats = tri
      .select((r1 * 100L + r2 * 10L + r3).as("pattern"))
      .groupBy(col("pattern"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val tot = pats.agg(sum(col("cnt")).cast("long").as("n_tri"))
    val p = col("cnt").cast("double") / col("n_tri").cast("double")
    val terms = pats.crossJoin(broadcast(tot))
      .select(col("pattern"), col("cnt"), col("n_tri"),
        round(p, 6).as("p_hat"),
        round(-p * log(p), 12).cast("decimal(27,12)").as("term"))
    val h = terms.agg(round(sum(col("term")).cast("double") /
      log(lit(6.0d)), 6).as("perm_entropy"))
    terms.crossJoin(broadcast(h))
      .select(col("pattern"), col("cnt"), col("p_hat"),
        col("perm_entropy"), col("n_tri"))
      .orderBy(col("pattern"))
  }

  /** Empirical-Bayes (beta-binomial) shrinkage of per-source quality
    * pass rates — the fix for q238's small-sample problem from the other
    * direction: instead of ranking by a confidence bound, SHRINK each
    * source's rate toward the cross-source prior, with shrink weight
    * n/(n+α+β) so tiny sources borrow strength and big sources keep
    * their data. The beta prior is method-of-moments from the observed
    * rate spread (per-source terms rounded through DECIMAL before the
    * k-element mean/variance sums). Scale shape: one combinable
    * per-source aggregate; everything after is k rows. */
  def q274_eb_shrinkage(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).cast("long")
          .as("pass"))
    val r = col("pass").cast("double") / col("n").cast("double")
    val scored = src.select(col("source"), col("n"), col("pass"),
      round(r, 12).cast("decimal(27,12)").as("rd"),
      round(r * r, 12).cast("decimal(27,12)").as("rd2"))
    val pri = scored.agg(count(lit(1)).cast("long").as("k"),
      sum(col("rd")).cast("decimal(38,12)").as("sr"),
      sum(col("rd2")).cast("decimal(38,12)").as("sr2"))
    val kD = col("k").cast("double")
    val m = col("sr").cast("double") / kD
    val v = (col("sr2").cast("double") -
      col("sr").cast("double") * col("sr").cast("double") / kD) /
      (kD - lit(1.0d))
    val c = m * (lit(1.0d) - m) / v - lit(1.0d)
    val alpha = m * c
    scored.crossJoin(broadcast(pri))
      .select(col("source"), col("n"), col("pass"),
        round(col("pass").cast("double") / col("n").cast("double"), 6)
          .as("raw_rate"),
        round((col("pass").cast("double") + alpha) /
          (col("n").cast("double") + c), 6).as("shrunk_rate"),
        round(col("n").cast("double") / (col("n").cast("double") + c), 6)
          .as("shrink_weight"),
        round(m, 6).as("prior_mean"))
      .orderBy(col("source"))
  }

  /** Decision-stump feature screening by Gini impurity reduction for
    * predicting purchase events — the split-quality computation inside
    * every tree learner, run as the cheap "which feature is worth a
    * model" triage. Three candidate features (6-hour time-of-day bucket,
    * fixed value band, epoch-day weekday) are melted to one
    * (feature, bucket, label) count table; weighted child Gini folds
    * integer counts with per-bucket terms rounded through DECIMAL.
    * Weekday comes from epoch-day mod 7 — no engine weekday-origin
    * convention involved. Scale shape: one melt + one combinable
    * (feature, bucket) aggregate. */
  def q275_gini_screening(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("ts"), col("value"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val melted = ev.select(lit("hour6").as("feature"),
        floor(hour(col("ts")).cast("double") / lit(6.0d)).cast("long")
          .as("bucket"), col("pos"))
      .unionAll(ev.select(lit("value_band").as("feature"),
        when(col("value") < 10, 0L).when(col("value") < 50, 1L)
          .when(col("value") < 150, 2L).otherwise(3L).as("bucket"),
        col("pos")))
      .unionAll(ev.select(lit("weekday").as("feature"),
        pmod(floor(unix_micros(col("ts")).cast("double") /
          lit(86400000000.0d)).cast("long"), lit(7L)).as("bucket"),
        col("pos")))
    val cell = melted.groupBy(col("feature"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_b"),
        sum(col("pos")).cast("long").as("p_b"))
    val tot = cell.groupBy(col("feature"))
      .agg(sum(col("n_b")).cast("long").as("n_tot"),
        sum(col("p_b")).cast("long").as("p_tot"))
    val pb = col("p_b").cast("double") / col("n_b").cast("double")
    val childG = lit(1.0d) - pb * pb -
      (lit(1.0d) - pb) * (lit(1.0d) - pb)
    val wTerm = round(col("n_b").cast("double") /
      col("n_tot").cast("double") * childG, 12).cast("decimal(27,12)")
    val pt = col("p_tot").cast("double") / col("n_tot").cast("double")
    val parentG = lit(1.0d) - pt * pt -
      (lit(1.0d) - pt) * (lit(1.0d) - pt)
    cell.join(tot, "feature")
      .groupBy(col("feature"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        round(max(parentG), 6).as("gini_parent"),
        round(sum(wTerm).cast("double"), 6).as("gini_split"),
        round(max(parentG) - sum(wTerm).cast("double"), 6).as("gini_gain"))
      .orderBy(col("feature"))
  }

  /** One-at-a-time sensitivity ("tornado") analysis of total charge
    * revenue to ±10% in extended price, discount, and tax — the
    * what-if grid a pricing review runs before committing a change.
    * Every scenario's revenue Σ ep·m_p·(1−disc·m_d)·(1+tax·m_t) folds
    * ENTIRELY through DECIMAL (the multipliers are scale-1 decimals), so
    * the seven scenario totals are exact to the cent and the deltas are
    * one division each. Scale shape: the 7-scenario grid is a literal
    * cross join; one combinable aggregate per pass over the fact
    * table — at scale a single pass with 7 conditional sums. */
  def q276_tornado(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").cast("decimal(18,2)").as("ep"),
        col("l_discount").cast("decimal(18,2)").as("disc"),
        col("l_tax").cast("decimal(18,2)").as("tax"))
    val scen = Seq(
      ("base", "1.0", "1.0", "1.0"),
      ("price_down", "0.9", "1.0", "1.0"),
      ("price_up", "1.1", "1.0", "1.0"),
      ("discount_down", "1.0", "0.9", "1.0"),
      ("discount_up", "1.0", "1.1", "1.0"),
      ("tax_down", "1.0", "1.0", "0.9"),
      ("tax_up", "1.0", "1.0", "1.1"))
      .toDF("scenario", "mp", "md", "mt")
      .select(col("scenario"), col("mp").cast("decimal(2,1)").as("mp"),
        col("md").cast("decimal(2,1)").as("md"),
        col("mt").cast("decimal(2,1)").as("mt"))
    val f = (col("ep") * col("mp")).cast("decimal(24,3)")
    val g = (lit(1).cast("decimal(4,3)") -
      (col("disc") * col("md")).cast("decimal(6,3)")).cast("decimal(6,3)")
    val h = (lit(1).cast("decimal(4,3)") +
      (col("tax") * col("mt")).cast("decimal(6,3)")).cast("decimal(6,3)")
    val rev = (f * g).cast("decimal(28,6)") * h
    val totals = li.crossJoin(broadcast(scen))
      .groupBy(col("scenario"))
      .agg(sum(rev.cast("decimal(38,9)")).cast("decimal(38,9)").as("tot"))
    val baseTot = totals.filter(col("scenario") === "base")
      .select(col("tot").as("base_tot"))
    totals.crossJoin(broadcast(baseTot))
      .select(col("scenario"),
        round(col("tot").cast("double") / lit(1.0e6d), 3)
          .as("revenue_millions"),
        round((col("tot").cast("double") - col("base_tot").cast("double")) /
          col("base_tot").cast("double") * lit(100.0d), 6)
          .as("delta_pct"))
      .orderBy(col("scenario"))
  }

  /** Merkle-style bucket digests for anti-entropy replica repair — the
    * Cassandra/Dynamo primitive: digest each key-range bucket with an
    * ORDER-FREE combinable sum of per-row hashes, compare against a
    * replica (here: one simulating lost rows), and ship only mismatched
    * buckets. Row hashes use the engine-portable md5-number channel
    * (exact on both engines), bucket digests are Σ hash mod p — a
    * commutative monoid, so distribution order can't change a digest.
    * Row reprs concatenate INTEGER fields only (cents, epoch days) — no
    * float formatting enters the hash. Scale shape: one combinable
    * aggregate per replica; the diff is a |buckets|-row join. */
  def q277_merkle_diff(spark: SparkSession, dir: String): DataFrame = {
    val p = 2305843009213693951L
    val rows = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        floor(unix_micros(col("o_orderdate")).cast("double") /
          lit(86400000000.0d)).cast("long").as("eday"))
      .withColumn("bucket", pmod(col("o_orderkey"), lit(256L)))
      .withColumn("rh", element_at(graft.functions.MinHashSig.minhashSig(
        array(concat_ws("|", col("o_orderkey"), col("o_custkey"),
          col("cents"), col("eday"))), 1), 1))
    def digest(df: DataFrame) = df.groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        pmod(sum(col("rh").cast("decimal(38,0)")),
          lit(p).cast("decimal(38,0)")).cast("long").as("dig"))
    val full = digest(rows)
    val replica = digest(rows.filter(pmod(col("o_orderkey"), lit(1000L))
      =!= 7L))
    full.select(col("bucket"), col("n").as("n_full"),
        col("dig").as("dig_full"))
      .join(replica.select(col("bucket"), col("n").as("n_replica"),
        col("dig").as("dig_replica")), Seq("bucket"), "left")
      .select(col("bucket"), col("n_full"),
        coalesce(col("n_replica"), lit(0L)).as("n_replica"),
        col("dig_full"), coalesce(col("dig_replica"), lit(0L))
          .as("dig_replica"))
      .filter(col("dig_full") =!= col("dig_replica"))
      .orderBy(col("bucket"))
  }

  /** Cross-table GDPR erasure audit — given a deletion list (the users a
    * right-to-be-forgotten request names, here the deterministic 1/97
    * hash slice), count every surviving reference in every table that
    * carries the key: the report a DPO needs BEFORE and AFTER the purge
    * job runs. Pure semi-join counts per table, unioned into one
    * sweep-result relation. Scale shape: the deletion list broadcasts;
    * each table contributes one semi-join + combinable count — no
    * cross-table shuffle at all. */
  def q278_erasure_audit(spark: SparkSession, dir: String): DataFrame = {
    val delList = Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .filter(graft.functions.StableHash.bucket(col("user_id"), 97) === 0)
      .select(col("user_id").as("k"))
    val dl = broadcast(delList)
    def audit(df: DataFrame, keyCol: String, table: String) =
      df.select(col(keyCol).as("k"))
        .join(dl, "k", "left_semi")
        .agg(count(lit(1)).cast("long").as("n_rows_referencing"),
          count_distinct(col("k")).cast("long").as("n_distinct_keys"))
        .select(lit(table).as("table_name"), col("n_rows_referencing"),
          col("n_distinct_keys"))
    val nDel = delList
      .agg(count(lit(1)).cast("long").as("n_rows_referencing"),
        count(lit(1)).cast("long").as("n_distinct_keys"))
      .select(lit("_deletion_list").as("table_name"),
        col("n_rows_referencing"), col("n_distinct_keys"))
    audit(Tables.events(spark, dir), "user_id", "events")
      .unionByName(audit(Tables.orders(spark, dir), "o_custkey", "orders"))
      .unionByName(audit(Tables.customer(spark, dir), "c_custkey",
        "customer"))
      .unionByName(nDel)
      .orderBy(col("table_name"))
  }

  /** Incremental-ingest invariance proof: latest-state-per-user computed
    * as batch1-state THEN upsert(batch2) must equal the single-pass
    * recompute — the correctness contract that lets a 100 TB pipeline
    * process only the delta. The Spark side runs the REAL two-batch path
    * through [[graft.transform.Dedup.latestByKeyAgg]] (map-side
    * combinable max_by) and [[graft.transform.Merge.upsertByKey]]; the
    * oracle is the full-recompute window — so a hash match IS the
    * invariance proof, not a self-comparison. Scale shape: per-batch
    * keyed aggregates + one anti-join on broadcast update keys. */
  def q279_incremental_state(spark: SparkSession, dir: String): DataFrame = {
    val cut = 1705708800000000L // 2024-01-20T00:00:00Z
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val batch1 = ev.filter(col("ts_us") < cut)
    val batch2 = ev.filter(col("ts_us") >= cut)
    val state1 = graft.transform.Dedup.latestByKeyAgg(batch1,
      Seq("user_id"), "ts_us", "event_id")
    graft.transform.Merge.upsertByKey(state1, batch2, Seq("user_id"),
        "ts_us", "event_id")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"))
      .orderBy(col("user_id"))
  }

  /** Point-in-time-correct trailing features for purchase events — the
    * feature-store materialization that training pipelines MUST get
    * right: each purchase sees only events STRICTLY BEFORE its own
    * timestamp (frame ends at −1 µs), within a 7-day event-time RANGE
    * frame, so no label leakage is possible by construction. Counts are
    * integers; the trailing value sum folds through DECIMAL inside the
    * frame. Scale shape: one per-user value-range window — partitioned
    * by the entity key, the exact shape a feature store shards by. */
  def q280_pit_features(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekUs = 604800000000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        col("value").cast("decimal(18,2)").as("v"),
        col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-weekUs, -1L)
    ev
      .withColumn("n_prior_7d", count(lit(1)).over(w).cast("long"))
      .withColumn("sum_prior_7d",
        coalesce(sum(col("v")).over(w).cast("decimal(38,2)"),
          lit(0).cast("decimal(38,2)")))
      .withColumn("n_prior_purchases",
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(w).cast("long"))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"),
        col("n_prior_7d"),
        col("sum_prior_7d").cast("double").as("sum_prior_7d"),
        coalesce(col("n_prior_purchases"), lit(0L))
          .as("n_prior_purchases"))
      .orderBy(col("event_id"))
  }

  /** Penny-exact revenue calendarization — prorate each order's total
    * across its order-to-last-ship day span the way revenue recognition
    * actually books it: base = cents div days to every day, and the
    * remainder cents go to the FIRST remainder days, so the allocation
    * sums back to the invoice TO THE CENT (a double division never
    * does). The per-day allocation is folded to CLOSED FORM per spanned
    * month — q·overlapDays + |[d0, d0+r-1] ∩ month| — so the explode is
    * per order-month (≤ ~5 rows), never per order-day (~60 rows); the
    * DuckDB oracle still books day by day, so the hash match proves the
    * fold. Scale shape: one order-grain max join, a month-bounded
    * explode, one combinable month aggregate. */
  def q281_calendarize(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(max(col("l_shipdate")).as("last_ship")), "o_orderkey")
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        to_date(col("o_orderdate")).as("d0"),
        greatest(lit(1L),
          (datediff(col("last_ship"), col("o_orderdate")) + 1).cast("long"))
          .as("n_days"))
    val perMonth = spans
      .withColumn("dend", date_add(col("d0"), (col("n_days") - 1).cast("int")))
      .withColumn("q", expr("cents div n_days"))
      .withColumn("r", pmod(col("cents"), col("n_days")))
      .select(col("*"), explode(expr(
        "sequence(date_trunc('MONTH', d0), date_trunc('MONTH', dend), interval 1 month)"))
        .as("month"))
      .withColumn("som", to_date(col("month")))
      .withColumn("eom", last_day(col("som")))
      .withColumn("ovl",
        (datediff(least(col("dend"), col("eom")),
          greatest(col("d0"), col("som"))) + 1).cast("long"))
      .withColumn("rovl", when(col("r") > 0,
        greatest(lit(0L),
          (datediff(least(date_add(col("d0"), (col("r") - 1).cast("int")),
            col("eom")), greatest(col("d0"), col("som"))) + 1).cast("long")))
        .otherwise(0L))
    perMonth.groupBy(col("month"))
      .agg(sum(col("q") * col("ovl") + col("rovl")).cast("long")
          .as("alloc_cents"),
        sum(col("ovl")).cast("long").as("n_order_days"))
      .select(col("month"),
        (col("alloc_cents").cast("double") / 100.0).as("allocated"),
        col("n_order_days"))
      .orderBy(col("month"))
  }

  /** Rendezvous (highest-random-weight) hash sharding with a
    * minimal-disruption proof — assign each document to the shard
    * maximizing h(key, shard) over 8 shards, then remove shard 3 and
    * reassign: ONLY keys that lived on the removed shard move (HRW's
    * defining property), and the emitted n_moved_from_surviving column
    * proves it is zero from the data. Hashes ride the engine-portable
    * md5-number channel; argmax ties break on the larger shard id via
    * lexicographic struct max. Scale shape: an 8-way bounded explode
    * per key + two max-struct aggregates — no shuffle beyond the key
    * grain. */
  def q282_rendezvous_hash(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("s", explode(array((0 until 8).map(i => lit(i.toLong)): _*)))
      .withColumn("h", element_at(graft.functions.MinHashSig.minhashSig(
        array(concat_ws("#", col("doc_id"), col("s"))), 1), 1))
    val assigned = keyed.groupBy(col("doc_id"))
      .agg(max(struct(col("h"), col("s"))).getField("s").as("s8"),
        max(when(col("s") =!= 3L, struct(col("h"), col("s"))))
          .getField("s").as("s7"))
    assigned.groupBy(col("s7").as("shard"))
      .agg(sum(when(col("s8") === col("s7"), 1L).otherwise(0L))
          .cast("long").as("n_stayed"),
        sum(when(col("s8") === 3L, 1L).otherwise(0L)).cast("long")
          .as("n_moved_from_removed"),
        sum(when(col("s8") =!= 3L && col("s8") =!= col("s7"), 1L)
          .otherwise(0L)).cast("long").as("n_moved_from_surviving"),
        count(lit(1)).cast("long").as("n_after"))
      .orderBy(col("shard"))
  }

  /** Item-item collaborative filtering on co-purchase vectors — the
    * "customers who bought X also bought Y" scorer: cosine similarity of
    * binary customer-incidence vectors, cooc/√(n_i·n_j), with a support
    * floor so one shared customer can't fabricate affinity. The pair
    * space is generated per customer (bounded by basket size²) and every
    * input to the score is an integer count, so the ranking is engine-
    * deterministic with an (i,j) tiebreak. Scale shape: the per-customer
    * self-join is basket-bounded (the q137 discipline at the customer
    * grain); item marginals join back on item id only. */
  def q283_item_cf(spark: SparkSession, dir: String): DataFrame = {
    // pin the incidence grain: it feeds the marginals AND both self-join
    // sides — unpinned, the orders⋈lineitem+distinct pass ran twice
    val bought = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
        "o_orderkey")
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .localCheckpoint(true)
    val ni = bought.groupBy(col("l_partkey"))
      .agg(count(lit(1)).cast("long").as("n_cust"))
    val pairs = bought.select(col("o_custkey"), col("l_partkey").as("i"))
      .join(bought.select(col("o_custkey"), col("l_partkey").as("j")),
        "o_custkey")
      .filter(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).cast("long").as("cooc"))
      .filter(col("cooc") >= 3)
    val sim = col("cooc").cast("double") /
      sqrt(col("n_i").cast("double") * col("n_j").cast("double"))
    pairs
      .join(ni.select(col("l_partkey").as("i"), col("n_cust").as("n_i")),
        "i")
      .join(ni.select(col("l_partkey").as("j"), col("n_cust").as("n_j")),
        "j")
      .orderBy(sim.desc, col("i"), col("j"))
      .limit(20)
      .select(col("i"), col("j"), col("cooc"), col("n_i"), col("n_j"),
        round(sim, 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("i"), col("j"))
  }

  /** Nelson-Aalen cumulative hazard of inter-purchase times — the
    * hazard-view complement to q156's Kaplan-Meier survival: H(t) jumps
    * by d/n at each observed gap, and its slope read directly answers
    * "does repurchase risk rise or fall with time since last purchase".
    * Gaps are floored to whole days so the duration grain is calendar-
    * bounded; d and the at-risk count n are exact integers from ONE
    * descending prefix sum; increments round through DECIMAL before the
    * cumulative fold (decimal addition is associative). Scale shape:
    * one per-user lag window + two bounded-grain prefix windows. */
  def q284_nelson_aalen(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val purch = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
    val lagW = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val gaps = purch
      .withColumn("prev_us", lag(col("us"), 1).over(lagW))
      .filter(col("prev_us").isNotNull)
      .select(floor((col("us") - col("prev_us")).cast("double") /
        lit(86400000000.0d)).cast("long").as("gap_days"))
    val grain = gaps.groupBy(col("gap_days"))
      .agg(count(lit(1)).cast("long").as("d"))
    val tot = grain.agg(sum(col("d")).cast("long").as("n_tot"))
    val cumW = Window.orderBy(col("gap_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = grain.crossJoin(broadcast(tot))
      .withColumn("cum_d", sum(col("d")).over(cumW).cast("long"))
      .withColumn("n_at_risk", col("n_tot") - col("cum_d") + col("d"))
    val inc = round(col("d").cast("double") /
      col("n_at_risk").cast("double"), 12).cast("decimal(27,12)")
    withRisk
      .withColumn("inc", inc)
      .withColumn("cum_hazard",
        sum(col("inc")).over(cumW).cast("decimal(38,12)"))
      .select(col("gap_days"), col("d"), col("n_at_risk"),
        round(col("inc").cast("double"), 9).as("hazard_increment"),
        round(col("cum_hazard").cast("double"), 6).as("cum_hazard"))
      .orderBy(col("gap_days"))
  }

  /** Wald SPRT sequential A/B monitor over the purchase stream — the
    * always-valid alternative to fixed-horizon testing: the
    * log-likelihood ratio for H1: p=0.35 vs H0: p=0.25 is walked in
    * event-time order and the FIRST boundary crossing (±ln 19 at
    * α=β=0.05) is the decision point. The LLR path is the closed form
    * k₁·conv_t + k₂·(t−conv_t) over the exact INTEGER conversion prefix
    * count, so no FP accumulates along the walk — only the two ln
    * constants are FP at all. Scale shape: one ordered prefix count on
    * the event stream + one argmin over crossing rows. */
  def q285_sprt(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k1 = math.log(0.35 / 0.25)
    val k2 = math.log(0.65 / 0.75)
    val bound = math.log(19.0)
    val obs = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("us"), col("event_id"),
        when(col("value") >= 100, 1L).otherwise(0L).as("conv"))
    // t and conv_t over the raw purchase STREAM (row grain, unbounded):
    // one range-partitioned PrefixSum pass carries both folds
    val path = graft.transform.PrefixSum.groupedRunningAggs(
        obs.withColumn("one", lit(1L)), Nil,
        Seq(col("us"), col("event_id")),
        Seq("one" -> "t", "conv" -> "conv_t"))
      .drop("one")
      .withColumn("llr", lit(k1) * col("conv_t").cast("double") +
        lit(k2) * (col("t") - col("conv_t")).cast("double"))
    val crossings = path
      .filter(col("llr") >= bound || col("llr") <= -bound)
      .agg(min(col("t")).as("first_cross_t"))
    val fin = path.agg(max(col("t")).as("n_obs"),
      max(col("conv_t")).as("n_conv"))
    val joined = fin.crossJoin(crossings)
    val llrAt = lit(k1) * col("n_conv").cast("double") +
      lit(k2) * (col("n_obs") - col("n_conv")).cast("double")
    joined
      .join(path.select(col("t").as("first_cross_t"),
        col("llr").as("llr_at_cross"), col("conv_t").as("conv_at_cross")),
        Seq("first_cross_t"), "left")
      .select(col("n_obs"), col("n_conv"),
        round(llrAt, 6).as("llr_final"),
        col("first_cross_t"),
        col("conv_at_cross"),
        when(col("first_cross_t").isNull, lit("CONTINUE"))
          .when(col("llr_at_cross") >= bound, lit("ACCEPT_H1"))
          .otherwise(lit("ACCEPT_H0")).as("decision"))
  }

  /** Best revenue streak — maximum-sum contiguous run of daily revenue
    * above baseline, the Kadane max-subarray problem solved with the
    * PREFIX-MIN identity (best run ending at t = P_t − min_{s<t} P_s) so
    * it is one window pass, not a quadratic interval scan. Everything is
    * INTEGER cents: the baseline is the floor of mean daily cents, so
    * prefix sums, the min tracker, and the argmax are all exact — no FP
    * anywhere in the answer. Scale shape: date-grain prefix windows +
    * one argmax + one start-recovery lookup join. */
  def q286_best_streak(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")).cast("decimal(38,0)").cast("long")
        .as("cents"))
      .withColumn("t",
        row_number().over(Window.orderBy(col("d"))).cast("long"))
    val tot = daily.agg(sum(col("cents")).cast("long").as("c_tot"),
      count(lit(1)).cast("long").as("n_days"))
    val based = daily.crossJoin(broadcast(tot))
      .withColumn("base", floor(col("c_tot").cast("double") /
        col("n_days").cast("double")).cast("long"))
      .withColumn("dev", col("cents") - col("base"))
    val cumW = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevW = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val path = based
      .withColumn("p", sum(col("dev")).over(cumW).cast("long"))
      .withColumn("pmin_before",
        least(lit(0L), coalesce(min(col("p")).over(prevW), lit(0L))))
      .withColumn("ending", col("p") - col("pmin_before"))
    val best = path
      .withColumn("rn", row_number().over(
        Window.orderBy(col("ending").desc, col("t"))))
      .filter(col("rn") === 1)
      .select(col("t").as("t_end"), col("d").as("end_day"),
        col("ending").as("streak_cents"), col("pmin_before"))
    val start = best.join(path.select(col("t").as("ts_"), col("p"),
        col("d").as("sd")),
        col("p") === col("pmin_before") && col("ts_") < col("t_end"),
        "left")
      .groupBy(col("t_end"), col("end_day"), col("streak_cents"))
      .agg(coalesce(min(col("ts_")) + 1, lit(1L)).as("t_start"))
    start.select(col("t_start"), col("t_end"),
        (col("t_end") - col("t_start") + 1).as("n_days"),
        col("streak_cents"),
        (col("streak_cents").cast("double") / 100.0)
          .as("streak_above_baseline"))
      .orderBy(col("t_start"))
  }

  /** Efraimidis-Spirakis weighted sampling WITHOUT replacement (A-Res) —
    * the one-pass distributed algorithm for "sample 20 docs proportional
    * to length": each item draws key ln(u)/w (monotone in u^(1/w)) from
    * the deterministic md5-uniform channel and the global top-k by key
    * IS the weighted sample — no sequential draws, no rejection, fully
    * parallel and mergeable (the property that makes it THE map-reduce
    * weighted sampler). Scale shape: per-row key + one top-k cut
    * (TakeOrderedAndProject class). */
  def q287_weighted_reservoir(spark: SparkSession, dir: String): DataFrame = {
    val p = 2305843009213693951L
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("double").as("w"))
      .withColumn("h", element_at(graft.functions.MinHashSig.minhashSig(
        array(concat(lit("wr#"), col("doc_id"))), 1), 1))
      .withColumn("u", (col("h").cast("double") + lit(1.0d)) /
        (lit(p.toDouble) + lit(1.0d)))
      .withColumn("key", log(col("u")) / col("w"))
    keyed.orderBy(col("key").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("w").cast("long").as("weight"),
        round(col("key") * lit(1.0e6d), 6).as("key_x1e6"))
      .orderBy(col("key_x1e6").desc, col("doc_id"))
  }

  /** Order-vs-lineitem revenue reconciliation by month — the control-
    * total audit every finance close runs: does the header total
    * (o_totalprice) reconcile with the computed line-level charge
    * Σ ep·(1−disc)·(1+tax)? Both sides fold through DECIMAL so the
    * reported differences are real data discrepancies, never FP
    * artifacts. Scale shape: two independent month-grain combinable
    * aggregates joined on the bounded calendar key. */
  def q288_reconciliation(spark: SparkSession, dir: String): DataFrame = {
    val om = Tables.orders(spark, dir)
      .select(date_trunc("month", col("o_orderdate")).as("month"),
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("tp"))
    val header = om.groupBy(col("month"))
      .agg(sum(col("tp")).cast("decimal(38,2)").as("header_total"),
        count(lit(1)).cast("long").as("n_orders"))
    val charge = (col("ep") * (lit(1).cast("decimal(4,3)") - col("disc"))
      .cast("decimal(6,3)")).cast("decimal(28,5)") *
      (lit(1).cast("decimal(4,3)") + col("tax")).cast("decimal(6,3)")
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        col("l_extendedprice").cast("decimal(18,2)").as("ep"),
        col("l_discount").cast("decimal(18,2)").as("disc"),
        col("l_tax").cast("decimal(18,2)").as("tax"))
      .join(om.select(col("o_orderkey"), col("month")), "o_orderkey")
      .groupBy(col("month"))
      .agg(sum(charge.cast("decimal(38,8)")).cast("decimal(38,8)")
        .as("line_total"))
    header.join(lines, "month")
      .select(col("month"), col("n_orders"),
        col("header_total").cast("double").as("header_total"),
        round(col("line_total").cast("double"), 2).as("line_total"),
        round(col("header_total").cast("double") -
          col("line_total").cast("double"), 2).as("difference"),
        round((col("header_total").cast("double") -
          col("line_total").cast("double")) /
          col("header_total").cast("double") * 100.0, 6).as("diff_pct"))
      .orderBy(col("month"))
  }

  /** Wald-Wolfowitz runs test on the above/below-median daily revenue
    * sequence — "is the series a random shuffle or does it trend/cycle":
    * too FEW runs means persistence (trending), too many means
    * oscillation. The median is an exact order statistic on the cents
    * grain, median-exact days are dropped (the standard convention),
    * runs are counted by one integer lag comparison, and μ_R/σ_R are
    * closed form in (n₁, n₂). Scale shape: date-grain only — a lag
    * window and a 4-counter aggregate. */
  def q289_runs_test(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")).cast("long").as("cents"))
    val grain = daily.groupBy(col("cents"))
      .agg(count(lit(1)).cast("long").as("n_v"))
    val cumG = grain.withColumn("cum",
      sum(col("n_v")).over(Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
    val nAll = grain.agg(sum(col("n_v")).cast("long").as("n_all"))
    val med = cumG.crossJoin(broadcast(nAll))
      .filter(col("cum") * 2 >= col("n_all"))
      .agg(min(col("cents")).as("median_cents"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("cents") =!= col("median_cents"))
      .withColumn("above", (col("cents") > col("median_cents")).cast("long"))
      .withColumn("t", row_number()
        .over(Window.orderBy(col("d"))).cast("long"))
    val lagW = Window.orderBy(col("t"))
    val runs = signed
      .withColumn("prev", lag(col("above"), 1).over(lagW))
      .agg(sum(when(col("prev").isNull || col("prev") =!= col("above"), 1L)
          .otherwise(0L)).cast("long").as("n_runs"),
        sum(col("above")).cast("long").as("n1"),
        sum(lit(1L) - col("above")).cast("long").as("n2"),
        max(col("median_cents")).as("median_cents"))
    val n1D = col("n1").cast("double")
    val n2D = col("n2").cast("double")
    val nD = n1D + n2D
    val muR = lit(2.0d) * n1D * n2D / nD + lit(1.0d)
    val varR = lit(2.0d) * n1D * n2D *
      (lit(2.0d) * n1D * n2D - n1D - n2D) / (nD * nD * (nD - lit(1.0d)))
    runs.select(col("n_runs"), col("n1"), col("n2"),
      (col("median_cents").cast("double") / 100.0).as("median_revenue"),
      round(muR, 6).as("expected_runs"),
      round((col("n_runs").cast("double") - muR) / sqrt(varR), 6)
        .as("z_score"))
  }

  /** Cumulative gains / lift table by score decile — the campaign-
    * targeting report ("mailing the top 30% by score captures X% of
    * buyers at Y× lift") that q262's PR curve summarizes but marketers
    * read bucketed. Deciles cut the DESCENDING money grain with the
    * q260 integer rank convention; captures and lifts are exact count
    * ratios rounded at the end. Scale shape: one grain agg + one prefix
    * window on the bounded money domain + a 10-row rollup. */
  def q290_gains_table(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grain = Tables.events(spark, dir)
      .select(col("value").cast("decimal(18,2)").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("v"))
      .agg(count(lit(1)).cast("long").as("n_v"),
        sum(col("pos")).cast("long").as("p_v"))
    val cum = graft.transform.PrefixSum.runningSums(grain,
      Seq(col("v").desc), Seq("n_v" -> "cum"))
    val tot = grain.agg(sum(col("n_v")).cast("long").as("n_tot"),
      sum(col("p_v")).cast("long").as("p_tot"))
    val dec = cum.crossJoin(broadcast(tot))
      .withColumn("decile",
        (floor(((col("cum") - lit(1L)) * lit(10L)).cast("double") /
          col("n_tot").cast("double")) + lit(1L)).cast("long"))
      .groupBy(col("decile"))
      .agg(sum(col("n_v")).cast("long").as("n_rows"),
        sum(col("p_v")).cast("long").as("n_pos"),
        max(col("n_tot")).as("n_tot"), max(col("p_tot")).as("p_tot"))
    val cumW = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec
      .withColumn("cum_rows", sum(col("n_rows")).over(cumW).cast("long"))
      .withColumn("cum_pos", sum(col("n_pos")).over(cumW).cast("long"))
      .select(col("decile"), col("n_rows"), col("n_pos"),
        round(col("cum_pos").cast("double") / col("p_tot").cast("double"),
          6).as("cum_capture"),
        round((col("cum_pos").cast("double") /
          col("cum_rows").cast("double")) /
          (col("p_tot").cast("double") / col("n_tot").cast("double")), 6)
          .as("cum_lift"))
      .orderBy(col("decile"))
  }

  /** Empirical upper-tail dependence between daily event volume and
    * daily revenue — the copula-level question correlation cannot
    * answer: "when volume spikes into its top decile, does revenue
    * spike into ITS top decile too?" λ̂_U = P(X>q₉₀ˣ | Y>q₉₀ʸ) from
    * exact order-statistic thresholds and pure joint counts, reported
    * against the independence baseline. Scale shape: the corpus
    * collapses to the calendar grain first (q229's discipline); both
    * thresholds are bounded-grain order statistics. */
  def q291_tail_dependence(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("long").as("x"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)")
          .as("y"))
    def q90(c: String) = {
      val grain = daily.groupBy(col(c)).agg(count(lit(1)).cast("long")
        .as("n_v"))
      val cum = grain.withColumn("cum",
        sum(col("n_v")).over(Window.orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      val n = grain.agg(sum(col("n_v")).cast("long").as("n_all"))
      cum.crossJoin(broadcast(n))
        .filter(col("cum") * 10 >= col("n_all") * 9)
        .agg(min(col(c)).as(s"q90_$c"))
    }
    val counts = daily.crossJoin(broadcast(q90("x")))
      .crossJoin(broadcast(q90("y")))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(when(col("x") > col("q90_x"), 1L).otherwise(0L)).cast("long")
          .as("n_x_tail"),
        sum(when(col("y") > col("q90_y"), 1L).otherwise(0L)).cast("long")
          .as("n_y_tail"),
        sum(when(col("x") > col("q90_x") && col("y") > col("q90_y"), 1L)
          .otherwise(0L)).cast("long").as("n_joint"))
    counts.select(col("n_days"), col("n_x_tail"), col("n_y_tail"),
      col("n_joint"),
      round(col("n_joint").cast("double") /
        col("n_y_tail").cast("double"), 6).as("lambda_u"),
      round(col("n_x_tail").cast("double") /
        col("n_days").cast("double"), 6).as("independence_baseline"))
  }

  /** Blocking-quality audit: candidate recall and efficiency of the two
    * blocking strategies this library ships (MinHash-LSH banding and
    * sorted-neighborhood) against the exact ≥0.5-shingle-Jaccard truth —
    * the report that decides WHICH blocker a 100 TB dedup run uses. The
    * truth set comes from the metric-implied length-band exact join (a
    * ≥0.5 3-shingle overlap forces similar length, so the band misses
    * nothing while staying subquadratic). Every count is an exact
    * integer over id pairs. Scale shape: three candidate generators
    * (each already scale-shaped) + id-pair semi-joins. */
  def q292_blocking_audit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val slim = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    // exact truth under the metric-implied length band (|Δchars| ≤ 16)
    val a = slim.select(col("doc_id").as("id_a"), col("lang").as("la"),
        col("n_chars").as("nca"))
      .withColumn("nck", explode(array((-16 to 16).map(d =>
        col("nca") + lit(d)): _*)))
    val candTruth = a.join(slim.select(col("doc_id").as("id_b"),
        col("lang").as("lb"), col("n_chars").as("ncb")),
        col("la") === col("lb") && col("nck") === col("ncb") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // fan before the shingle kernels (guide §2.5; no-op at corpus scale)
    val docsF = Tables.fan(docs.select(col("doc_id"), col("text")))
    val grams = docsF.select(col("doc_id"),
      array_sort(TextOps.shingles(col("text"), 3)).as("sg"))
    val truth = candTruth
      .join(grams.select(col("doc_id").as("id_a"), col("sg").as("ga")),
        "id_a")
      .join(grams.select(col("doc_id").as("id_b"), col("sg").as("gb")),
        "id_b")
      .filter(graft.functions.JaccardSim.jaccardSimSorted(col("ga"),
        col("gb")) >= 0.5)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    // blocker 1: MinHash-LSH band candidates (the q27 pipeline's stage 1)
    val sets = docsF.select(col("doc_id"),
      TextOps.shingles(col("text"), 3).as("shingle_set"))
    val lshCand = graft.similarity.MinHashLsh.candidatePairs(sets,
        "doc_id", bands = 16, rowsPerBand = 4, maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
    // blocker 2: sorted-neighborhood rank (the q258 construction, w=4),
    // doc-grain position via the range-partitioned PrefixSum
    val keyed = graft.transform.PrefixSum.rowNumber(
      docsF.select(col("doc_id"),
        substring(TextOps.normalize(col("text")), 1, 24).as("sk")),
      Nil, Seq(col("sk"), col("doc_id")), "rnk")
    val sn = keyed.select(col("doc_id").as("id_x"), col("rnk").as("ra"))
      .withColumn("dd", explode(array(lit(1L), lit(2L), lit(3L))))
      .withColumn("rb", col("dd") + col("ra"))
      .join(keyed.select(col("doc_id").as("id_y"), col("rnk").as("rb")),
        "rb")
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
    def audit(cand: DataFrame, name: String) = {
      val nC = cand.agg(count(lit(1)).cast("long").as("n_candidates"))
      val hits = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).cast("long").as("n_hit"))
      val nT = truth.agg(count(lit(1)).cast("long").as("n_truth"))
      nC.crossJoin(hits).crossJoin(nT)
        .select(lit(name).as("blocker"), col("n_candidates"),
          col("n_truth"), col("n_hit"),
          round(col("n_hit").cast("double") /
            col("n_truth").cast("double"), 6).as("recall"),
          round(col("n_truth").cast("double") /
            col("n_candidates").cast("double"), 6).as("efficiency"))
    }
    audit(lshCand, "minhash_lsh")
      .unionByName(audit(sn, "sorted_neighborhood"))
      .orderBy(col("blocker"))
  }

  /** Disparate-impact (80% rule) audit of the length quality gate across
    * languages — the fairness report a data-governance review demands
    * before a selection rule ships: per-language selection rate, ratio
    * to the most-selected reference group, and the four-fifths flag.
    * The reference group is the exact-rational argmax (cross-multiplied
    * integer comparison via rank on identical doubles, lang tiebreak).
    * Scale shape: one combinable per-language aggregate; everything
    * after is |langs| rows. */
  def q293_disparate_impact(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).cast("long")
          .as("n_sel"))
    val rate = col("n_sel").cast("double") / col("n").cast("double")
    val ranked = byLang.withColumn("rate", rate)
      .withColumn("is_ref", row_number().over(
        Window.orderBy(col("rate").desc, col("lang"))) === 1)
    val ref = ranked.filter(col("is_ref"))
      .select(col("lang").as("ref_lang"), col("rate").as("ref_rate"))
    ranked.crossJoin(broadcast(ref))
      .select(col("lang"), col("n"), col("n_sel"),
        round(col("rate"), 6).as("selection_rate"),
        col("ref_lang"),
        round(col("rate") / col("ref_rate"), 6).as("impact_ratio"),
        (col("rate") / col("ref_rate") < 0.8).as("fails_80_rule"))
      .orderBy(col("lang"))
  }

  /** Weekly top-5 parts leaderboard with rank-churn — "how stable is the
    * bestseller list week over week", the report behind trending-item
    * caching decisions. Weeks are integer 7-day buckets from the epoch
    * day (no engine week-origin convention); per-week top-5 goes through
    * the heap [[graft.plans.TopKPerKey]] operator (state = #weeks × 5,
    * never a window sort over each week's full catalog); churn is the
    * exact intersection size of consecutive weeks' id sets. */
  def q294_leaderboard_drift(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        floor(datediff(col("l_shipdate"), to_date(lit("1992-01-01")))
          .cast("double") / lit(7.0d)).cast("long").as("week"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(4,3)") -
            col("l_discount").cast("decimal(18,2)")).cast("decimal(6,3)"))
          .cast("decimal(28,5)").as("rev"))
      .groupBy(col("week"), col("l_partkey"))
      .agg(sum(col("rev")).cast("decimal(38,5)").as("rev"))
    val top5 = graft.plans.TopKPerKey.topKPerKey(weekly,
        Seq(col("week")), Seq(col("rev").desc, col("l_partkey").asc), 5)
      .groupBy(col("week"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("top_parts"),
        max(col("rev")).cast("double").as("top_rev"))
    val withPrev = top5.join(top5.select((col("week") + 1).as("week"),
        col("top_parts").as("prev_parts")), Seq("week"), "left")
    withPrev.select(col("week"),
        array_join(col("top_parts"), ",").as("top_parts_csv"),
        round(col("top_rev"), 2).as("top_rev"),
        when(col("prev_parts").isNotNull,
          size(array_intersect(col("top_parts"), col("prev_parts")))
            .cast("long")).as("overlap_with_prev"))
      .orderBy(col("week"))
  }
}
