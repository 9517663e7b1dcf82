package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Sketch-guarantee, calibration, backtest, density-clustering, and
  * causal-inference wave — the "is the cheap estimator / selection rule
  * good enough to ship" reports. Each query pairs a scale-path
  * estimator with its exact audit in one result, so the guarantee is
  * data, not doc prose.
  *
  * Scale shapes: estimators are one combinable aggregate over the
  * corpus; audits run on bounded grains (log2 bucket domain, score
  * buckets, the calendar day/week domain, nation strata).
  */
object EvalQueries {

  /** Log2-bucket quantile sketch (a DDSketch with γ=2 — Masson et al.,
    * VLDB'19 — whose bucket index is the INTEGER bit length of the cents
    * value, so the sketch is engine-portable with zero FP): per-priority
    * sketches, their merged rollup proven equal to the directly-built
    * global sketch (the mergeability contract a 1000-executor rollup
    * relies on), and for φ ∈ {0.5, 0.9, 0.99} the sketch bucket is shown
    * to BRACKET the exact rank-φ order statistic — the relative-error ≤ 2
    * guarantee, held up against the data. Scale shape: sketch build is
    * one map-side-combinable groupBy on ~40 buckets; only the exact
    * audit touches the value grain (cumulative rank over distinct cents,
    * the q216 convention). */
  def q298_log2_quantile_sketch(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("long")
    val vals = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("prio"), cents.as("cents"))
      .filter(col("cents") > 0)
      .withColumn("bucket", length(bin(col("cents"))).cast("int"))
    val perPrio = vals.groupBy(col("prio"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("c"))
    val merged = perPrio.groupBy(col("bucket"))
      .agg(sum(col("c")).cast("long").as("c_merged"))
    val direct = vals.groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("c_direct"))
    val mergedOk = merged.join(direct, Seq("bucket"), "full")
      .agg(min(coalesce(col("c_merged") === col("c_direct"), lit(false)))
        .as("merged_ok"))
    val n = vals.agg(count(lit(1)).cast("long").as("n"))
    // exact rank-φ order statistics on the distinct-cents grain — the
    // cumulative comes from the range-partitioned PrefixSum, never a
    // single-partition window over the (unbounded) value grain; the three
    // φ branches below all fan off this result, which is safe because
    // PrefixSum pins its ranged frame internally (no per-query pin needed)
    val byVal = graft.transform.PrefixSum.runningSums(
        vals.groupBy(col("cents")).agg(count(lit(1)).cast("long").as("cv")),
        Seq(col("cents")), Seq("cv" -> "cum"))
    val cumB = direct.withColumn("cumb", sum(col("c_direct")).over(
      Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val phis = Seq(("0.50", 1L, 2L), ("0.90", 9L, 10L), ("0.99", 99L, 100L))
    val out = phis.map { case (label, num, den) =>
      val r = n.select(
        expr(s"CAST((n * $num + ${den - 1}) div $den AS BIGINT)").as("r"),
        col("n"))
      val b = r.crossJoin(cumB).filter(col("cumb") >= col("r"))
        .groupBy(col("r"), col("n")).agg(min(col("bucket")).as("bucket"))
      val exact = r.crossJoin(byVal).filter(col("cum") >= col("r"))
        .groupBy(col("r")).agg(min(col("cents")).as("exact_cents"))
      b.join(exact, "r")
        .select(lit(label).as("phi"), col("n"), col("r").as("rank"),
          col("bucket"),
          expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)").as("lo_cents"),
          (expr("shiftleft(CAST(1 AS BIGINT), bucket)") - 1).as("hi_cents"),
          col("exact_cents"))
    }.reduce(_ unionByName _)
    out.crossJoin(mergedOk)
      .withColumn("within_bucket",
        col("exact_cents") >= col("lo_cents") &&
          col("exact_cents") <= col("hi_cents"))
      .orderBy(col("phi"))
  }

  /** Isotonic (monotone) calibration of a document-length score against
    * the observed English rate, via the PAVA minimax identity
    * g(i) = max_{j≤i} min_{k≥i} pooledAvg(j..k) (Robertson-Wright-Dykstra)
    * — the calibration step between a raw quality score and a selection
    * threshold. The pooled averages are integer-count ratios, so both
    * engines produce bit-identical doubles; the output carries the
    * before/after adjacent-violation evidence. Scale shape: one
    * combinable corpus aggregate to ~20 buckets; the j/i/k triple
    * enumeration is on the bounded bucket grain (≤ B³ tiny rows). */
  def q299_isotonic_calibration(spark: SparkSession, dir: String): DataFrame = {
    val b = least(lit(19L), floor(col("n_chars") / 50)).cast("int")
    val buckets = Tables.documents(spark, dir)
      .select(b.as("bucket"), (col("lang") === "en").cast("long").as("y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("y")).as("s"))
      .localCheckpoint(true)
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // avg(j..k) from prefix sums; pn/ps are the sums strictly before j
    val withPrefix = buckets.select(col("bucket"), col("n"), col("s"))
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("cs", sum(col("s")).over(w))
    val iv = withPrefix.select(col("bucket").as("j"),
        (col("cn") - col("n")).as("pn"), (col("cs") - col("s")).as("ps"))
      .join(withPrefix.select(col("bucket").as("k"), col("cn").as("nk"),
        col("cs").as("sk")), col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("sk") - col("ps")).cast("double") /
          (col("nk") - col("pn")).cast("double")).as("avg_jk"))
    val i = buckets.select(col("bucket").as("i"))
    val iso = iv.join(i, col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j")).agg(min(col("avg_jk")).as("mn"))
      .groupBy(col("i")).agg(max(col("mn")).as("iso"))
    val joined = buckets.join(iso, col("bucket") === col("i"))
      .select(col("bucket"), col("n"),
        (col("s").cast("double") / col("n").cast("double")).as("rate"),
        col("iso"))
    val lagW = Window.orderBy(col("bucket"))
    joined
      .withColumn("pre_violation",
        coalesce(col("rate") < lag(col("rate"), 1).over(lagW), lit(false)))
      .withColumn("iso_monotone",
        coalesce(col("iso") >= lag(col("iso"), 1).over(lagW), lit(true)))
      .select(col("bucket"), col("n"), round(col("rate"), 6).as("rate"),
        round(col("iso"), 6).as("iso_rate"), col("pre_violation"),
        col("iso_monotone"))
      .orderBy(col("bucket"))
  }

  /** Rolling-origin forecast backtest on the daily revenue series: three
    * closed-form forecasters (naive last-observation, seasonal-naive at
    * lag 7, integer-floored trailing MA-7) scored at every origin with at
    * least 7 prior observations — the model-selection evidence a forecast
    * pipeline needs BEFORE anyone fits a model. MAE is exact integer
    * cents; MAPE folds per-origin terms rounded at 12 dp through DECIMAL
    * (the q272 rounded-term reduction), so both engines agree exactly.
    * Scale shape: one combinable day-grain aggregate, then lag/avg
    * windows on the bounded calendar domain. */
  def q300_forecast_backtest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select(to_date(col("o_orderdate")).as("day"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).cast("long").as("rev"))
    val w = Window.orderBy(col("day"))
    val withF = daily
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("naive", lag(col("rev"), 1).over(w))
      .withColumn("seasonal", lag(col("rev"), 7).over(w))
      .withColumn("ma7", expr(
        "sum(rev) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) div 7"))
      .filter(col("rn") >= 8)
    def score(fc: String): DataFrame = {
      val err = abs(col("rev") - col(fc))
      withF.select(col("rev"), err.as("err"))
        .agg(count(lit(1)).cast("long").as("n_origins"),
          sum(col("err")).cast("long").as("sum_abs_err"),
          sum(round(col("err").cast("double") / col("rev").cast("double"),
            12).cast("decimal(24,12)")).as("mape_sum"))
        .select(lit(fc).as("forecaster"), col("n_origins"),
          round(col("sum_abs_err").cast("double") /
            col("n_origins").cast("double"), 2).as("mae_cents"),
          round(col("mape_sum").cast("double") /
            col("n_origins").cast("double"), 8).as("mape"))
    }
    score("naive").unionByName(score("seasonal")).unionByName(score("ma7"))
      .orderBy(col("forecaster"))
  }

  /** Grid-blocked DBSCAN (Ester et al., KDD'96) as revenue-regime
    * detection: points are (week, rank-vigintile of weekly revenue) — the
    * rank transform makes the 2D density scale-invariant — with L∞ ε=2,
    * minPts=3. The Spark side builds the ε-graph the way a 100 TB run
    * must: cell = ε-grid key, candidates from the 3×3 neighbor-cell
    * equi-join (never the quadratic all-pairs), exact distance check on
    * candidates only; clusters come from the whale-safe BigStar CC
    * already gated by q67. The oracle recomputes the ε-graph as a plain
    * quadratic join + recursive CTE — an independent construction.
    * Output is per point: role (core/border/noise) and cluster id. */
  def q301_dbscan_regimes(spark: SparkSession, dir: String): DataFrame = {
    val eps = 2
    val wk = Tables.orders(spark, dir)
      .select(expr(
        "datediff(to_date(o_orderdate), DATE'1992-01-01') div 7").as("x"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .groupBy(col("x")).agg(sum(col("cents")).cast("long").as("rev"))
    val n = wk.agg(count(lit(1)).cast("long").as("nw"))
    val pts = wk
      .withColumn("rn", row_number().over(
        Window.orderBy(col("rev"), col("x"))).cast("long"))
      .crossJoin(broadcast(n))
      .select(col("x"), expr("(rn - 1) * 20 div nw").as("y"))
      .withColumn("pid", col("x") * 32 + col("y"))
      .localCheckpoint(true)
    // ε-grid blocking: cell size = ε, so any L∞-ε pair shares a 3x3 block
    val withCell = pts.withColumn("cx", expr(s"x div $eps"))
      .withColumn("cy", expr(s"y div $eps"))
    val probes = withCell
      .withColumn("dx", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("dy", explode(array((-1 to 1).map(lit): _*)))
      .select(col("pid").as("pa"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    val edges = probes.join(withCell.select(col("pid").as("pb"),
        col("x").as("xb"), col("y").as("yb"), col("cx"), col("cy")),
        Seq("cx", "cy"))
      .filter(abs(col("xa") - col("xb")) <= eps &&
        abs(col("ya") - col("yb")) <= eps && col("pa") =!= col("pb"))
      .select(col("pa"), col("pb")).distinct()
      .localCheckpoint(true)
    val deg = edges.groupBy(col("pa")).agg(count(lit(1)).as("nb"))
    val core = deg.filter(col("nb") >= 3).select(col("pa").as("pid"))
    val coreEdges = edges
      .join(core.select(col("pid").as("pa")), "pa")
      .join(core.select(col("pid").as("pb")), "pb")
      .filter(col("pa") < col("pb"))
      .select(col("pa").as("id_a"), col("pb").as("id_b"))
    val comp = graft.transform.Dedup.duplicateClustersBigStar(
      coreEdges, core, "pid")
    val borderAssign = edges
      .join(core.select(col("pid").as("pb")), "pb") // neighbor is core
      .join(comp.withColumnRenamed("pid", "pb"), "pb")
      .groupBy(col("pa")).agg(min(col("cluster_id")).as("b_cluster"))
    pts.join(comp.withColumnRenamed("cluster_id", "c_cluster"),
        Seq("pid"), "left")
      .join(broadcast(core.withColumn("is_core", lit(true))), Seq("pid"),
        "left")
      .join(borderAssign.withColumnRenamed("pa", "pid"), Seq("pid"), "left")
      .select(col("pid"), col("x"), col("y"),
        when(col("is_core"), "core")
          .when(col("b_cluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        when(col("is_core"), col("c_cluster"))
          .otherwise(col("b_cluster")).as("cluster_id"))
      .orderBy(col("pid"))
  }

  /** HITS hubs-and-authorities (Kleinberg, JACM'99) on the bipartite
    * customer-part purchase graph, two exact integer iterations (no
    * normalization, so every score is a path count and both engines agree
    * to the last bit): a1 = in-degree, h1 = Σ a1 over a customer's parts,
    * a2 = Σ h1 over a part's customers. Scale shape: each iteration is
    * one groupBy-sum + equi-join over the edge list — the PageRank-class
    * power-iteration layout; the final top-15 plans as
    * TakeOrderedAndProject, never a full sort. */
  def q302_hits_bipartite(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
        "o_orderkey")
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint(true)
    val a1 = edges.groupBy(col("p"))
      .agg(count(lit(1)).cast("long").as("a1"))
    val h1 = edges.join(a1, "p").groupBy(col("c"))
      .agg(sum(col("a1")).cast("long").as("h1"))
    val a2 = edges.join(h1, "c").groupBy(col("p"))
      .agg(sum(col("h1")).cast("long").as("a2"))
    a1.join(a2, "p")
      .orderBy(col("a2").desc, col("p"))
      .limit(15)
      .select(col("p").as("partkey"), col("a1"), col("a2"))
  }

  /** Stratified causal-effect estimation under confounded assignment —
    * the observational-data answer to q-series A/B tests: treatment and
    * outcome both depend on the nation stratum through deterministic
    * md5-uniform channels (true lift = 15pp by construction), so the
    * naive difference-in-means is biased and the stratified /
    * Horvitz-Thompson IPW estimators recover the effect. Positivity
    * strata lacking either arm are excluded and counted. Per-stratum
    * terms are exact integer-count rationals folded through the q272
    * rounded-term DECIMAL reduction. Scale shape: one combinable
    * customer-grain aggregate to |nation| strata; everything after is
    * bounded-grain arithmetic. */
  def q303_ipw_stratified(spark: SparkSession, dir: String): DataFrame = {
    val p = 2305843009213693951L
    def chan(tag: String): Column =
      pmod(element_at(graft.functions.MinHashSig.minhashSig(
        array(concat(lit(tag + "#"), col("c_custkey"))), 1), 1), lit(100L))
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").as("stratum"),
        (chan("trt") < lit(20L) + lit(3L) * pmod(col("c_nationkey").cast("long"),
          lit(10L))).cast("int").as("t"))
      .withColumn("y",
        (chan("out") < lit(10L) + lit(2L) * pmod(col("stratum").cast("long"),
          lit(10L)) + lit(15L) * col("t")).cast("long"))
    val strata = base.groupBy(col("stratum"))
      .agg(count(lit(1)).cast("long").as("ns"),
        sum(col("t")).cast("long").as("nt"),
        sum(col("y") * col("t")).cast("long").as("yt"),
        sum(col("y") * (lit(1) - col("t"))).cast("long").as("yc"))
      .withColumn("nc", col("ns") - col("nt"))
      .localCheckpoint(true)
    val ok = strata.filter(col("nt") > 0 && col("nc") > 0)
    val excluded = strata.filter(!(col("nt") > 0 && col("nc") > 0))
      .agg(coalesce(sum(col("ns")), lit(0L)).cast("long").as("n_excluded"))
    def dec(c: Column): Column = round(c, 12).cast("decimal(24,12)")
    val terms = ok.select(col("ns"), col("nt"), col("nc"),
      col("yt"), col("yc"),
      dec(col("ns").cast("double") * (col("yt").cast("double") /
        col("nt").cast("double") - col("yc").cast("double") /
          col("nc").cast("double"))).as("strat_term"),
      dec(col("yt").cast("double") / (col("nt").cast("double") /
        col("ns").cast("double"))).as("ht_t_term"),
      dec(col("yc").cast("double") / (col("nc").cast("double") /
        col("ns").cast("double"))).as("ht_c_term"))
    val agg = terms.agg(
      sum(col("ns")).cast("long").as("n"),
      sum(col("nt")).cast("long").as("n_treated"),
      sum(col("yt")).cast("long").as("conv_treated"),
      sum(col("nc")).cast("long").as("n_control"),
      sum(col("yc")).cast("long").as("conv_control"),
      sum(col("strat_term")).as("strat_sum"),
      sum(col("ht_t_term")).as("ht_t_sum"),
      sum(col("ht_c_term")).as("ht_c_sum"))
    agg.crossJoin(excluded)
      .select(col("n"), col("n_excluded"),
        round(col("conv_treated").cast("double") /
          col("n_treated").cast("double") -
          col("conv_control").cast("double") /
            col("n_control").cast("double"), 6).as("naive_diff"),
        round(col("strat_sum").cast("double") / col("n").cast("double"), 6)
          .as("stratified_ate"),
        round((col("ht_t_sum").cast("double") -
          col("ht_c_sum").cast("double")) / col("n").cast("double"), 6)
          .as("ipw_ate"))
  }

  /** Apriori-style frequent brand TRIPLES with association-rule stats —
    * the 3-itemset extension of q137's pair lift: top-20 co-purchased
    * brand triples by support, each carrying the {x,y}→z rule's exact
    * confidence and lift. The item grain is brand, so the itemset
    * universe is bounded (C(25,3) = 2300) and every support is an exact
    * basket count. Scale shape: the triple enumeration is a basket-
    * bounded double self-join on the order key (≤ C(k,3) rows per
    * basket), aggregated to the bounded itemset grain; the final top-20
    * plans as TakeOrderedAndProject. */
  def q304_frequent_triples(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
      .join(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand")), "l_partkey")
      .select(col("ok"), col("p_brand").as("brand")).distinct()
      .localCheckpoint(true)
    val nBaskets = b.select(col("ok")).distinct()
      .agg(count(lit(1)).cast("long").as("n_baskets"))
    val singles = b.groupBy(col("brand"))
      .agg(count(lit(1)).cast("long").as("supp1"))
    val pairs = b.select(col("ok"), col("brand").as("x"))
      .join(b.select(col("ok"), col("brand").as("y")), "ok")
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).cast("long").as("supp_xy"))
    val triples = b.select(col("ok"), col("brand").as("x"))
      .join(b.select(col("ok"), col("brand").as("y")), "ok")
      .join(b.select(col("ok"), col("brand").as("z")), "ok")
      .filter(col("x") < col("y") && col("y") < col("z"))
      .groupBy(col("x"), col("y"), col("z"))
      .agg(count(lit(1)).cast("long").as("supp"))
    triples
      .orderBy(col("supp").desc, col("x"), col("y"), col("z"))
      .limit(20)
      .join(pairs, Seq("x", "y"))
      .join(singles.select(col("brand").as("z"), col("supp1").as("supp_z")),
        "z")
      .crossJoin(broadcast(nBaskets))
      .select(col("x"), col("y"), col("z"), col("supp"), col("supp_xy"),
        round(col("supp").cast("double") / col("supp_xy").cast("double"), 6)
          .as("confidence"),
        round(col("supp").cast("double") / col("supp_xy").cast("double") *
          col("n_baskets").cast("double") / col("supp_z").cast("double"), 6)
          .as("lift"))
      .orderBy(col("supp").desc, col("x"), col("y"), col("z"))
  }

  /** Space-filling-curve locality audit: Morton (Z-order) interleaving of
    * the (order-day, price-log2-bucket) plane versus the row-major layout,
    * judged by the rank distance between 2D-adjacent points — the in-data
    * evidence behind choosing (or rejecting) a z-order table layout
    * ([[graft.lakehouse.ZOrder]]). On THIS plane the day axis dominates
    * (every day is present, only a few price buckets are active per day),
    * and the audit duly reports row-major ahead of Morton — the classic
    * "don't z-order a keyspace one dimension already orders well"
    * advisory, measured rather than asserted. Everything is integer bit
    * arithmetic replayed identically by the oracle. Scale shape: distinct
    * bounded key grain, two equi-joins for the 4-neighborhood, one rank
    * window per ordering on that grain. */
  def q305_morton_locality(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.orders(spark, dir)
      .select(datediff(to_date(col("o_orderdate")),
          to_date(lit("1992-01-01"))).cast("long").as("x"),
        length(bin((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long"))).cast("long").as("y"))
      .distinct()
    val morton = (0 until 16).map { bit =>
      shiftleft(shiftright(col("x"), bit).bitwiseAND(lit(1L)), 2 * bit) +
        shiftleft(shiftright(col("y"), bit).bitwiseAND(lit(1L)), 2 * bit + 1)
    }.reduce(_ + _)
    val keyed = pts
      .withColumn("pid", col("x") * 65536 + col("y"))
      .withColumn("morton", morton)
      .withColumn("rm", row_number().over(Window.orderBy(col("morton")))
        .cast("long"))
      .withColumn("rr", row_number().over(Window.orderBy(col("pid")))
        .cast("long"))
      .localCheckpoint(true)
    val a = keyed.select(col("x"), col("y"), col("rm").as("rma"),
      col("rr").as("rra"))
    val bb = keyed.select(col("x").as("bx"), col("y").as("by"),
      col("rm").as("rmb"), col("rr").as("rrb"))
    val right = a.join(bb, col("bx") === col("x") + 1 && col("by") === col("y"))
    val up = a.join(bb, col("bx") === col("x") && col("by") === col("y") + 1)
    val edges = right.unionByName(up)
      .select(abs(col("rma") - col("rmb")).as("gm"),
        abs(col("rra") - col("rrb")).as("gr"))
      .localCheckpoint(true)
    def side(gap: String, label: String): DataFrame =
      edges.agg(count(lit(1)).cast("long").as("n_edges"),
        sum(col(gap)).cast("long").as("gap_sum"),
        max(col(gap)).cast("long").as("max_rank_gap"))
        .select(lit(label).as("ordering"), col("n_edges"),
          round(col("gap_sum").cast("double") /
            col("n_edges").cast("double"), 4).as("avg_rank_gap"),
          col("max_rank_gap"))
    side("gm", "morton").unionByName(side("gr", "row_major"))
      .orderBy(col("ordering"))
  }

  /** Count-sketch second-moment (F2) estimator — the AMS (Alon-Matias-
    * Szegedy, STOC'96) sketch in its bucketed form: 16 signed counters
    * Z_j = Σ s(tok)·c_tok over md5-derived buckets and ±1 signs, with
    * F̂2 = Σ Z_j². Fully deterministic (both channels are the engine-
    * portable md5 hash), so the oracle replays the sketch exactly;
    * per-source sketches summed equal the direct global sketch — the
    * linearity/mergeability a distributed rollup relies on — and the
    * estimate lands next to the exact Σc² in the same row. Scale shape:
    * token counts are one combinable aggregate; the sketch is 16
    * integers regardless of corpus size. */
  def q306_ams_f2(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.MinHashSig
    def chan(tag: String, c: Column): Column =
      element_at(MinHashSig.minhashSig(
        array(concat(lit(tag + "#"), c)), 1), 1)
    val counts = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).cast("long").as("c"))
      .withColumn("bucket", pmod(chan("amsb", col("tok")), lit(16L)))
      .withColumn("sign",
        (lit(2L) * pmod(chan("amss", col("tok")), lit(2L)) - 1L))
      .localCheckpoint(true)
    val perSource = counts.groupBy(col("source"), col("bucket"))
      .agg(sum(col("sign") * col("c")).cast("long").as("z"))
    val mergedZ = perSource.groupBy(col("bucket"))
      .agg(sum(col("z")).cast("long").as("z_merged"))
    val tokGlobal = counts.groupBy(col("tok"))
      .agg(sum(col("c")).cast("long").as("c"),
        min(col("bucket")).as("bucket"), min(col("sign")).as("sign"))
    val directZ = tokGlobal.groupBy(col("bucket"))
      .agg(sum(col("sign") * col("c")).cast("long").as("z_direct"))
    val mergedOk = mergedZ.join(directZ, Seq("bucket"), "full")
      .agg(min(coalesce(col("z_merged") === col("z_direct"), lit(false)))
        .as("merged_ok"))
    val exact = tokGlobal.agg(
      sum(col("c")).cast("long").as("n_tokens"),
      count(lit(1)).cast("long").as("n_distinct"),
      sum(col("c") * col("c")).cast("long").as("f2_exact"))
    val est = directZ.agg(sum(col("z_direct") * col("z_direct"))
      .cast("long").as("f2_est"))
    exact.crossJoin(est).crossJoin(mergedOk)
      .select(col("n_tokens"), col("n_distinct"), col("f2_exact"),
        col("f2_est"),
        round(col("f2_est").cast("double") /
          col("f2_exact").cast("double"), 6).as("est_ratio"),
        col("merged_ok"))
  }

  /** Two-sample log-rank test between hash-split user arms on time-to-
    * first-purchase — the inferential companion to the q156 Kaplan-Meier
    * curve: at every event day, observed arm-1 deaths vs the
    * hypergeometric expectation E = d·n1/n and variance
    * V = d·(n1/n)(1−n1/n)(n−d)/(n−1), χ² = (O−E)²/V. Users without a
    * purchase are right-censored at their last observed event. Day
    * counts are exact integers; per-day E/V terms fold through the q272
    * rounded-term DECIMAL reduction. Scale shape: one per-user min/max
    * aggregate, then suffix-sum windows on the bounded day grain. */
  def q307_logrank(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(col("us")).as("t0"),
        min(when(col("event_type") === "purchase", col("us"))).as("tp"),
        max(col("us")).as("tlast"))
      .select(col("user_id"),
        when(col("tp").isNotNull,
          expr("(tp - t0) div 86400000000")).otherwise(
          expr("(tlast - t0) div 86400000000")).as("t"),
        col("tp").isNotNull.cast("int").as("d"),
        pmod(element_at(graft.functions.MinHashSig.minhashSig(
          array(concat(lit("arm#"), col("user_id"))), 1), 1), lit(2L))
          .cast("int").as("arm"))
    val byDay = perUser.groupBy(col("t"))
      .agg(count(lit(1)).cast("long").as("m"),
        sum(col("d")).cast("long").as("dd"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long").as("m1"),
        sum(col("d") * col("arm")).cast("long").as("d1"))
    val w = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val risk = byDay
      .withColumn("n", sum(col("m")).over(w))
      .withColumn("n1", sum(col("m1")).over(w))
      .filter(col("dd") > 0 && col("n") > 1)
    def dec12(c: Column): Column = round(c, 12).cast("decimal(24,12)")
    val terms = risk.select(col("d1"), col("dd"),
      dec12(col("dd").cast("double") * (col("n1").cast("double") /
        col("n").cast("double"))).as("e1"),
      dec12(col("dd").cast("double") * (col("n1").cast("double") /
        col("n").cast("double")) * (lit(1.0d) -
          col("n1").cast("double") / col("n").cast("double")) *
        ((col("n") - col("dd")).cast("double") /
          (col("n") - 1).cast("double"))).as("v"))
    val users = perUser.agg(count(lit(1)).cast("long").as("n_users"),
      sum(col("d")).cast("long").as("n_events"))
    val agg = terms.agg(sum(col("d1")).cast("long").as("o1"),
      sum(col("e1")).as("e1s"), sum(col("v")).as("vs"))
    users.crossJoin(agg)
      .select(col("n_users"), col("n_events"), col("o1"),
        round(col("e1s").cast("double"), 6).as("e1"),
        round(col("vs").cast("double"), 6).as("var_sum"),
        round((col("o1").cast("double") - col("e1s").cast("double")) *
          (col("o1").cast("double") - col("e1s").cast("double")) /
          col("vs").cast("double"), 6).as("chi2"))
  }

  /** Cochran-Armitage trend test — does the order-fulfilled rate TREND
    * across ordered price bands (the dose-response question a plain
    * chi-square can't answer): integer scores s=band,
    * T = Σs(r_b − n_b·R/N), Var = p(1−p)[Σs²n − (Σsn)²/N], z = T/√Var.
    * Every Σ is an exact integer; the z assembly is a fixed-order double
    * formula both engines replay identically. Scale shape: ONE
    * combinable band-grain aggregate, then O(1) arithmetic. */
  def q308_cochran_armitage(spark: SparkSession, dir: String): DataFrame = {
    val banded = Tables.orders(spark, dir)
      .select(least(lit(9L), expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 2500000"))
        .as("s"),
        (col("o_orderstatus") === "F").cast("long").as("r"))
    val sums = banded.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("r")).cast("long").as("rr"),
      sum(col("s")).cast("long").as("ssn"),
      sum(col("s") * col("r")).cast("long").as("ssr"),
      sum(col("s") * col("s")).cast("long").as("ss2n"))
    val nD = col("n").cast("double")
    val pD = col("rr").cast("double") / nD
    val tD = col("ssr").cast("double") -
      col("ssn").cast("double") * col("rr").cast("double") / nD
    val varD = pD * (lit(1.0d) - pD) *
      (col("ss2n").cast("double") -
        col("ssn").cast("double") * col("ssn").cast("double") / nD)
    sums.select(col("n"), col("rr").as("successes"),
      round(tD, 6).as("t_stat"), round(varD, 6).as("var_t"),
      round(tD / sqrt(varD), 6).as("z"))
  }

  /** Mantel-Haenszel pooled odds ratio across market-segment strata,
    * with the per-stratum 2×2 tables and a Simpson's-paradox flag —
    * "does the pooled association direction survive stratification".
    * Exposure is the md5 hash arm; outcome is having any urgent order.
    * OR_MH = Σ(a·d/n)/Σ(b·c/n) with terms folded through the q272
    * rounded-term DECIMAL reduction. Scale shape: one customer-grain
    * semi-aggregate join, one combinable stratum aggregate. */
  def q309_mantel_haenszel(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("stratum"))
      .withColumn("e", pmod(element_at(
        graft.functions.MinHashSig.minhashSig(
          array(concat(lit("exp#"), col("c_custkey"))), 1), 1), lit(2L))
        .cast("int"))
      .join(urgent.withColumn("y", lit(1)), Seq("c_custkey"), "left")
      .withColumn("y", coalesce(col("y"), lit(0)))
    val tab = base.groupBy(col("stratum"))
      .agg(sum((col("e") * col("y")).cast("long")).as("a"),
        sum((col("e") * (lit(1) - col("y"))).cast("long")).as("b"),
        sum(((lit(1) - col("e")) * col("y")).cast("long")).as("c"),
        sum(((lit(1) - col("e")) * (lit(1) - col("y"))).cast("long"))
          .as("d"))
      .localCheckpoint(true)
    def dec12(c: Column): Column = round(c, 12).cast("decimal(24,12)")
    val orS = when(col("b") * col("c") > 0,
      round((col("a") * col("d")).cast("double") /
        (col("b") * col("c")).cast("double"), 6))
    val strata = tab.select(col("stratum"), col("a"), col("b"), col("c"),
      col("d"), orS.as("odds_ratio"),
      lit(null).cast("double").as("or_mh"),
      lit(null).cast("boolean").as("simpson_flip"))
    val pooledTab = tab.agg(
      sum(col("a")).as("a"), sum(col("b")).as("b"),
      sum(col("c")).as("c"), sum(col("d")).as("d"))
    val mh = tab
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .agg(sum(dec12((col("a") * col("d")).cast("double") /
          col("n").cast("double"))).as("num"),
        sum(dec12((col("b") * col("c")).cast("double") /
          col("n").cast("double"))).as("den"))
      .select((col("num").cast("double") / col("den").cast("double"))
        .as("or_mh_raw"))
    val pooled = pooledTab.crossJoin(mh)
      .select(lit("__pooled__").as("stratum"), col("a"), col("b"),
        col("c"), col("d"),
        when(col("b") * col("c") > 0,
          round((col("a") * col("d")).cast("double") /
            (col("b") * col("c")).cast("double"), 6)).as("odds_ratio"),
        round(col("or_mh_raw"), 6).as("or_mh"),
        (((col("a") * col("d")).cast("double") /
          (col("b") * col("c")).cast("double") > 1.0d) =!=
          (col("or_mh_raw") > 1.0d)).as("simpson_flip"))
    strata.unionByName(pooled).orderBy(col("stratum"))
  }

  /** Hoeffding racing audit — "after how many shards could the corpus
    * English-rate estimate have stopped early": cumulative means over 10
    * md5 shards vs the final mean, each with its two-sided Hoeffding
    * radius ε = √(ln(2/δ)/2n), δ=0.05. The ln(2/δ) constant is computed
    * once HERE and interpolated into the oracle (the q285 convention), so
    * no libm-ulp drift can split the engines; √ is IEEE-exact in both.
    * Scale shape: one combinable shard aggregate; the race table is 10
    * rows. */
  def q310_hoeffding_racing(spark: SparkSession, dir: String): DataFrame = {
    val shards = Tables.documents(spark, dir)
      .select(pmod(element_at(graft.functions.MinHashSig.minhashSig(
        array(concat(lit("shard#"), col("doc_id"))), 1), 1), lit(10L))
        .as("shard"),
        (col("lang") === "en").cast("long").as("y"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("ns"),
        sum(col("y")).cast("long").as("ys"))
    val w = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = shards
      .withColumn("n_cum", sum(col("ns")).over(w))
      .withColumn("y_cum", sum(col("ys")).over(w))
    val tot = shards.agg(sum(col("ns")).as("nt"), sum(col("ys")).as("yt"))
      .select((col("yt").cast("double") / col("nt").cast("double"))
        .as("final_mean"))
    cum.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_cum"),
        round(col("y_cum").cast("double") / col("n_cum").cast("double"), 6)
          .as("mean_cum"),
        round(sqrt(lit(EvalQueries.ln2OverDelta) /
          (lit(2.0d) * col("n_cum").cast("double"))), 6).as("eps"),
        (abs(col("y_cum").cast("double") / col("n_cum").cast("double") -
          col("final_mean")) <=
          sqrt(lit(EvalQueries.ln2OverDelta) /
            (lit(2.0d) * col("n_cum").cast("double")))).as("within_bound"))
      .orderBy(col("shard"))
  }

  /** ln(2/δ) for δ=0.05 — evaluated once on the driver and shared with
    * the oracle SQL verbatim (both engines then only do IEEE-exact
    * division and sqrt on it). */
  val ln2OverDelta: Double = math.log(2.0 / 0.05)

  /** Functional-dependency discovery over a fixed candidate set — the
    * schema-profiling pass that tells an ingestion pipeline which
    * "business keys" actually determine which attributes before anyone
    * declares constraints: per candidate lhs→rhs, distinct-lhs vs
    * distinct-pair counts (FD holds iff equal) and how many lhs values
    * witness a violation. Scale shape: one combinable
    * groupBy(lhs)+countDistinct(rhs) per candidate — each a single
    * aggregate over its table, unioned on a 9-row result grain. */
  def q311_fd_discovery(spark: SparkSession, dir: String): DataFrame = {
    def probe(tbl: String, df: DataFrame, lhs: String, rhs: String)
        : DataFrame =
      df.groupBy(col(lhs))
        .agg(countDistinct(col(rhs)).as("nr"))
        .agg(count(lit(1)).cast("long").as("n_lhs"),
          sum(col("nr")).cast("long").as("n_pairs"),
          sum(when(col("nr") > 1, 1L).otherwise(0L)).cast("long")
            .as("n_violating_lhs"))
        .select(lit(tbl).as("tbl"), lit(s"$lhs -> $rhs").as("fd"),
          col("n_lhs"), col("n_pairs"),
          (col("n_lhs") === col("n_pairs")).as("holds"),
          col("n_violating_lhs"))
    val part = Tables.part(spark, dir)
    val orders = Tables.orders(spark, dir)
    Seq(
      probe("part", part, "p_partkey", "p_name"),
      probe("part", part, "p_name", "p_brand"),
      probe("part", part, "p_name", "p_type"),
      probe("orders", orders, "o_orderkey", "o_custkey"),
      probe("orders", orders, "o_custkey", "o_orderpriority"),
      probe("lineitem", Tables.lineitem(spark, dir), "l_orderkey",
        "l_suppkey"),
      probe("customer", Tables.customer(spark, dir), "c_custkey",
        "c_mktsegment"),
      probe("nation", Tables.nation(spark, dir), "n_nationkey",
        "n_regionkey"),
      probe("supplier", Tables.supplier(spark, dir), "s_nationkey",
        "s_name"),
    ).reduce(_ unionByName _).orderBy(col("tbl"), col("fd"))
  }

  /** First-order Markov next-event prediction, evaluated honestly on a
    * held-out hash arm: transitions trained on arm-0 user streams
    * (argmax next state per state, count-desc/state-asc tiebreak),
    * top-1 accuracy measured on arm-1 bigrams, against the majority-
    * class baseline from the same training arm — the minimal
    * train/test protocol for sequence models, entirely in closed form.
    * Unseen test states count as misses. Scale shape: one per-user lag
    * window, combinable bigram aggregates on the bounded event-type
    * grain. */
  def q312_markov_eval(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("arm", pmod(element_at(
        graft.functions.MinHashSig.minhashSig(
          array(concat(lit("arm#"), col("user_id"))), 1), 1), lit(2L))
        .cast("int"))
    val lagW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val bigrams = ev
      .withColumn("prev", lag(col("event_type"), 1).over(lagW))
      .filter(col("prev").isNotNull)
      .select(col("arm"), col("prev"), col("event_type").as("cur"))
      .localCheckpoint(true)
    val trainCounts = bigrams.filter(col("arm") === 0)
      .groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val predicted = trainCounts
      .withColumn("rn", row_number().over(Window.partitionBy(col("prev"))
        .orderBy(col("cnt").desc, col("cur"))))
      .filter(col("rn") === 1)
      .select(col("prev"), col("cur").as("pred"))
    val majority = bigrams.filter(col("arm") === 0)
      .groupBy(col("cur")).agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("cur")).limit(1)
      .select(col("cur").as("maj"))
    val test = bigrams.filter(col("arm") === 1)
    val markov = test.join(broadcast(predicted), Seq("prev"), "left")
      .agg(count(lit(1)).cast("long").as("n_test"),
        sum(when(col("pred") === col("cur"), 1L).otherwise(0L))
          .cast("long").as("n_hits"))
      .select(lit("markov1").as("model"), col("n_test"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_test").cast("double"),
          6).as("accuracy"))
    val base = test.crossJoin(broadcast(majority))
      .agg(count(lit(1)).cast("long").as("n_test"),
        sum(when(col("maj") === col("cur"), 1L).otherwise(0L))
          .cast("long").as("n_hits"))
      .select(lit("majority").as("model"), col("n_test"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_test").cast("double"),
          6).as("accuracy"))
    markov.unionByName(base).orderBy(col("model"))
  }

  /** Locally-dominant greedy weighted matching (Manne-Bisseling style) of
    * suppliers to customers by exact DECIMAL trade revenue, THREE
    * synchronized rounds: an edge matches when it is simultaneously its
    * supplier's and its customer's best remaining edge (weight-desc,
    * partner-asc tiebreak — a total order, so rounds are deterministic),
    * then both endpoints leave the pool. This is the data-parallel form
    * of greedy matching (each round is two rank windows + one filter —
    * no sequential conflict chain), and the oracle unrolls the same
    * three rounds as CTEs. Output: matched pairs with their round.
    * Scale shape: per-round cost is two high-cardinality-key windows
    * over the shrinking edge list; round count is fixed. */
  def q313_dominant_matching(spark: SparkSession, dir: String): DataFrame = {
    val edges0 = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey").as("c"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey").as("s"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(4,3)") -
              col("l_discount").cast("decimal(18,2)")).cast("decimal(6,3)"))
            .cast("decimal(28,5)").as("rev")), "o_orderkey")
      .groupBy(col("s"), col("c"))
      .agg(sum(col("rev")).cast("decimal(38,5)").as("w"))
      .localCheckpoint(true)
    var remaining = edges0
    var matched: DataFrame = null
    for (round <- 1 to 3) {
      val bs = Window.partitionBy(col("s"))
        .orderBy(col("w").desc, col("c"))
      val bc = Window.partitionBy(col("c"))
        .orderBy(col("w").desc, col("s"))
      val m = remaining
        .withColumn("rs", row_number().over(bs))
        .withColumn("rc", row_number().over(bc))
        .filter(col("rs") === 1 && col("rc") === 1)
        .select(col("s"), col("c"), col("w"),
          lit(round.toLong).as("matched_round"))
        .localCheckpoint(true)
      matched = if (matched == null) m else matched.unionByName(m)
      remaining = remaining
        .join(m.select(col("s")), Seq("s"), "left_anti")
        .join(m.select(col("c")), Seq("c"), "left_anti")
        .localCheckpoint(true)
    }
    matched
      .select(col("s"), col("c"), col("w").cast("double").as("weight"),
        col("matched_round"))
      .orderBy(col("s"))
  }

  /** Quantile treatment effects — the distributional view a mean ATE
    * hides: per hash arm, the exact rank-decile order statistics of
    * order value (q216 cumulative-rank convention, integer cents), and
    * their per-decile difference. Everything is an integer; the oracle
    * replays rank arithmetic exactly. Scale shape: one combinable
    * (arm, value)-grain aggregate, one cumulative window per arm on the
    * distinct-value grain. */
  def q314_quantile_effects(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(spark, dir)
      .select(pmod(element_at(graft.functions.MinHashSig.minhashSig(
        array(concat(lit("qte#"), col("o_custkey"))), 1), 1), lit(2L))
        .cast("int").as("arm"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    val byVal = vals.groupBy(col("arm"), col("cents"))
      .agg(count(lit(1)).cast("long").as("cv"))
      .withColumn("cum", sum(col("cv")).over(
        Window.partitionBy(col("arm")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .localCheckpoint(true)
    val ns = vals.groupBy(col("arm"))
      .agg(count(lit(1)).cast("long").as("n"))
    val dec = byVal.join(ns, "arm")
      .withColumn("d", explode(array((1 to 9).map(i => lit(i.toLong)): _*)))
      .filter(col("cum") >= expr("CAST((n * d + 9) div 10 AS BIGINT)"))
      .groupBy(col("arm"), col("d"))
      .agg(min(col("cents")).as("q"))
    dec.filter(col("arm") === 1)
      .select(col("d").as("decile"), col("q").as("q_treat"))
      .join(dec.filter(col("arm") === 0)
        .select(col("d").as("decile"), col("q").as("q_control")), "decile")
      .select(col("decile"), col("q_treat"), col("q_control"),
        (col("q_treat") - col("q_control")).as("qte_cents"))
      .orderBy(col("decile"))
  }

  /** Benjamini-Hochberg FDR gate over a per-nation A/A test sweep — the
    * multiple-testing control a metrics platform needs before it pages
    * anyone about "significant" segments: per valid nation a two-
    * proportion z on the urgent-order rate between md5 A/A arms, tests
    * ranked by |z|, and BH run on the z-scale against thresholds
    * Φ⁻¹(1 − iα/(2m)) precomputed ON THE DRIVER (Acklam inverse-normal,
    * |err| < 1.2e-9) for every (m, i) and shared verbatim with the
    * oracle — no in-engine erf, no libm drift. A/A means rejections
    * SHOULD be zero; the gate proves the control holds on real splits.
    * Scale shape: one customer-grain semi-join aggregate to the nation
    * grain; the BH pass is |nations| rows. */
  def q315_bh_fdr(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").as("nation"))
      .withColumn("arm", pmod(element_at(
        graft.functions.MinHashSig.minhashSig(
          array(concat(lit("aa#"), col("c_custkey"))), 1), 1), lit(2L))
        .cast("int"))
      .join(urgent.withColumn("y", lit(1)), Seq("c_custkey"), "left")
      .withColumn("y", coalesce(col("y"), lit(0)))
    val tests = base.groupBy(col("nation"))
      .agg(sum(col("arm")).cast("long").as("n1"),
        sum(lit(1) - col("arm")).cast("long").as("n0"),
        sum(col("y") * col("arm")).cast("long").as("y1"),
        sum(col("y") * (lit(1) - col("arm"))).cast("long").as("y0"))
      .filter(col("n1") > 0 && col("n0") > 0 &&
        col("y1") + col("y0") > 0 &&
        col("y1") + col("y0") < col("n1") + col("n0"))
      .localCheckpoint(true)
    val pbar = (col("y1") + col("y0")).cast("double") /
      (col("n1") + col("n0")).cast("double")
    val z = (col("y1").cast("double") / col("n1").cast("double") -
      col("y0").cast("double") / col("n0").cast("double")) /
      sqrt(pbar * (lit(1.0d) - pbar) *
        (lit(1.0d) / col("n1").cast("double") +
          lit(1.0d) / col("n0").cast("double")))
    val zed = tests.withColumn("z", z)
      .withColumn("rank", row_number().over(
        Window.orderBy(abs(col("z")).desc, col("nation"))).cast("long"))
    val m = zed.agg(count(lit(1)).cast("long").as("m"))
    val spark2 = spark
    import spark2.implicits._
    val thr = EvalQueries.bhThresholds.toSeq
      .map { case ((mm, i), t) => (mm.toLong, i.toLong, t) }
      .toDF("m", "rank", "thr")
    val flagged = zed.crossJoin(broadcast(m))
      .join(broadcast(thr), Seq("m", "rank"))
      .withColumn("flag", abs(col("z")) >= col("thr"))
    val kstar = flagged.agg(coalesce(max(when(col("flag"), col("rank"))),
      lit(0L)).as("kstar"))
    flagged.crossJoin(broadcast(kstar))
      .select(col("nation"), col("n1"), col("n0"),
        round(col("z"), 6).as("z"), col("rank"),
        round(col("thr"), 6).as("bh_threshold"),
        (col("rank") <= col("kstar")).as("rejected"))
      .orderBy(col("rank"))
  }

  /** The q316 pattern set. Deliberately includes "he" ⊂ "the" so the
    * one-pass automaton demonstrably counts overlapping cross-pattern
    * hits; no pattern has a proper border (prefix = suffix), so the
    * oracle's per-pattern replace-count equals the all-occurrences
    * count and stays independent of the automaton. */
  val blocklistPatterns: Seq[String] =
    Seq("the", "he", "query", "spark", "row", "stream", "fast", "line")

  /** One-pass Aho-Corasick blocklist scan ([[graft.functions
    * .MultiPatternCount]]): total pattern occurrences and distinct
    * patterns hit, per document — the blocklist/PII-term scan at corpus
    * scale, where the naive plan is |patterns| separate contains() scans
    * per row. Scale shape: per-row compiled automaton (one executor-wide
    * reference object), no shuffle before the per-doc projection. */
  def q316_blocklist_scan(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.MultiPatternCount
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        MultiPatternCount.totalMatches(col("text"), blocklistPatterns)
          .as("total_matches"),
        MultiPatternCount.distinctPatterns(col("text"), blocklistPatterns)
          .as("patterns_hit"))
      .orderBy(col("doc_id"))
  }

  /** Poisson overdispersion check on daily event counts per type — the
    * count-data QC behind alerting thresholds (a Poisson assumption
    * under real burstiness fires pages at the wrong rate): dispersion
    * index D = s²/x̄ from exact integer moment sums and the χ²-scaled
    * statistic (n−1)·D. Scale shape: two nested combinable aggregates
    * (event→day grain, day→type grain). */
  def q317_overdispersion(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("c"))
    val sums = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("c")).cast("long").as("s1"),
        sum(col("c") * col("c")).cast("long").as("s2"))
    val nD = col("n_days").cast("double")
    val mean = col("s1").cast("double") / nD
    val variance = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / nD) /
      (nD - lit(1.0d))
    sums.select(col("event_type"), col("n_days"), col("s1").as("n_events"),
        round(mean, 6).as("mean_daily"),
        round(variance, 6).as("var_daily"),
        round(variance / mean, 6).as("dispersion_index"),
        round((nD - lit(1.0d)) * variance / mean, 6).as("chi2_stat"))
      .orderBy(col("event_type"))
  }

  /** Chapman capture-recapture estimate of the distinct vocabulary —
    * "how many distinct tokens does the full corpus hold" from TWO
    * independent md5 document samples (the two 'capture occasions'):
    * N̂ = (nA+1)(nB+1)/(m+1) − 1, against the true distinct count in the
    * same row. The population-size estimator every coverage audit uses
    * when a full scan is off the table; here the full scan exists and
    * grades it. Scale shape: two hash-filtered token-distinct aggregates
    * + one exact distinct; all integers until the final estimator. */
  def q318_capture_recapture(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.MinHashSig
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
      .withColumn("draw", pmod(element_at(MinHashSig.minhashSig(
        array(concat(lit("cap#"), col("doc_id"))), 1), 1), lit(10L)))
      .localCheckpoint(true)
    val inA = toks.filter(col("draw") < 5)
      .select(col("tok")).distinct()
    val inB = toks.filter(col("draw") >= 5)
      .select(col("tok")).distinct()
    val nA = inA.agg(count(lit(1)).cast("long").as("n_a"))
    val nB = inB.agg(count(lit(1)).cast("long").as("n_b"))
    val m = inA.join(inB, "tok")
      .agg(count(lit(1)).cast("long").as("m_both"))
    val truth = toks.select(col("tok")).distinct()
      .agg(count(lit(1)).cast("long").as("n_true"))
    nA.crossJoin(nB).crossJoin(m).crossJoin(truth)
      .select(col("n_a"), col("n_b"), col("m_both"), col("n_true"),
        round((col("n_a") + 1).cast("double") *
          (col("n_b") + 1).cast("double") /
          (col("m_both") + 1).cast("double") - lit(1.0d), 6)
          .as("chapman_estimate"))
  }

  /** Good-Turing missing-mass estimate, validated held-out: train on an
    * md5 half of the corpus, estimate the probability that the NEXT
    * token occurrence is an unseen type as P₀ = N₁/N (Good, Biometrika
    * 1953 — the leave-one-out identity), then MEASURE the unseen-type
    * occurrence rate on the held-out half in the same row. Also emits
    * the GT-discounted singleton count r₁* = 2·N₂/N₁ — the smoothing
    * every Katz/Kneser-Ney backoff starts from. The coverage question a
    * 100 TB vocabulary build must answer before freezing: how much
    * probability mass belongs to words not yet seen. Scale shape: one
    * token-grain groupBy for train counts; frequency-of-frequencies is a
    * bounded-grain fold of it; the held-out audit is one equi-join on
    * token carrying (token, seen) only. All integers until the final
    * two rates. */
  def q319_good_turing(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.MinHashSig
    // 3-token grams WITH repeats (the corpus template vocabulary is ~31
    // words — unigram frequencies have no tail; the trigram type
    // distribution is the Zipf-shaped population GT assumes)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .withColumn("draw", pmod(element_at(MinHashSig.minhashSig(
        array(concat(lit("gt#"), col("doc_id"))), 1), 1), lit(10L)))
      .select(col("doc_id"), col("draw"),
        explode(transform(sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
          .as("tok"))
      .localCheckpoint(true)
    val counts = toks.filter(col("draw") < 5)
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("c"))
    val fof = counts.agg(
      sum(col("c")).cast("long").as("n_train"),
      count(lit(1)).cast("long").as("v_train"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("n1"),
      sum(when(col("c") === 2, 1L).otherwise(0L)).cast("long").as("n2"))
    val held = toks.filter(col("draw") >= 5)
      .join(counts.select(col("tok"), lit(1L).as("seen")), Seq("tok"),
        "left")
      .agg(count(lit(1)).cast("long").as("n_heldout"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_unseen_occ"))
    fof.crossJoin(held)
      .select(col("n_train"), col("v_train"), col("n1"), col("n2"),
        col("n_heldout"), col("n_unseen_occ"),
        round(col("n1").cast("double") / col("n_train").cast("double"), 6)
          .as("p0_good_turing"),
        round(col("n_unseen_occ").cast("double") /
          col("n_heldout").cast("double"), 6).as("heldout_unseen_rate"),
        round(lit(2.0d) * col("n2").cast("double") /
          col("n1").cast("double"), 6).as("r1_star"))
  }

  /** Dynamic-time-warping distance ([[graft.functions.DtwDistance]])
    * between every nation pair's 1995 monthly order-count profile, next
    * to the lockstep L1 distance on the same vectors — the shape-vs-
    * phase report behind demand-curve clustering (two nations whose
    * seasons are shifted a month apart are L1-far but DTW-close;
    * warp_gain measures exactly that slack). The DP is all-Long, so the
    * oracle unrolls the identical recurrence as 144 exact SQL cells.
    * Scale shape: the corpus reduces via one combinable (nation, month)
    * aggregate to 25 twelve-long vectors; the quadratic kernel runs once
    * per pair on the BOUNDED 300-pair nation grain (the nested-loop pair
    * join is over two 25-row sides — never data rows). */
  def q320_dtw_nations(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.DtwDistance
    val mc = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"),
          col("c_nationkey").as("nk")), "o_custkey")
      .groupBy(col("nk"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).cast("long").as("c"))
    val series = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("nk"), col("n_name").as("name"))
      .crossJoin(spark.range(1, 13).select(col("id").cast("int").as("m")))
      .join(mc, Seq("nk", "m"), "left")
      .na.fill(0L, Seq("c"))
      .groupBy(col("nk"), col("name"))
      .agg(transform(sort_array(collect_list(struct(col("m"), col("c")))),
        s => s.getField("c")).as("series"))
    val a = series.select(col("nk").as("nk_a"), col("name").as("name_a"),
      col("series").as("sa"))
    val b = series.select(col("nk").as("nk_b"), col("name").as("name_b"),
      col("series").as("sb"))
    a.join(b, col("nk_a") < col("nk_b"))
      .select(col("name_a"), col("name_b"),
        DtwDistance.dtwDistance(col("sa"), col("sb")).as("dtw"),
        aggregate(zip_with(col("sa"), col("sb"),
          (x, y) => abs(x - y)), lit(0L), (acc, v) => acc + v).as("l1"))
      .select(col("name_a"), col("name_b"), col("dtw"), col("l1"),
        round(when(col("l1") > 0, lit(1.0d) -
            col("dtw").cast("double") / col("l1").cast("double"))
          .otherwise(lit(0.0d)), 6).as("warp_gain"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** The q321 column list: (label, lineitem column) pairs the advisor
    * profiles. Shared with the oracle generator. */
  val encodingColumns: Seq[(String, String)] = Seq(
    "l_returnflag" -> "l_returnflag", "l_linestatus" -> "l_linestatus",
    "l_quantity" -> "l_quantity", "l_shipdate" -> "l_shipdate",
    "l_partkey" -> "l_partkey")

  /** Columnar-encoding advisor — the storage-layout report a 100 TB
    * parquet rewrite starts from: per column, the distinct ratio, the
    * run profile under the table's natural sort key (runs counted
    * WITHIN each l_orderkey block ordered by l_linenumber — page runs
    * never span the block boundary, mirroring row-group locality), the
    * value-distribution entropy in bits (the dictionary-page size
    * driver), and the resulting encoding decision (dictionary / RLE on
    * integer-comparison thresholds — never FP). Scale shape: per column
    * one lag window PARTITIONED BY the high-cardinality block key (no
    * global sort anywhere) + one value-grain aggregate; decisions
    * happen on the |columns|-row grain. */
  def q321_encoding_advisor(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // (l_orderkey, l_linenumber) is NOT unique in this data; the full
    // column tuple breaks ties deterministically (identical full rows
    // are order-ambiguous but can't change any column's run count)
    val tiebreak = Seq("l_linenumber", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate").map(col)
    val w = Window.partitionBy(col("l_orderkey")).orderBy(tiebreak: _*)
    def profile(label: String, c: String): DataFrame = {
      val runs = li
        .withColumn("pv", lag(col(c), 1).over(w))
        .withColumn("v", col(c))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("pv").isNull || col("pv") =!= col("v"), 1L)
            .otherwise(0L)).cast("long").as("n_runs"))
      // c·ln(c) terms round to 9 decimals then fold as exact DECIMAL —
      // the q121 discipline: identical doubles in, order-independent sum
      val dist = li.groupBy(col(c).as("v"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .agg(count(lit(1)).cast("long").as("n_distinct"),
          sum(round(col("cnt").cast("double") *
              log(col("cnt").cast("double")), 9).cast("decimal(27,12)"))
            .as("clogc"))
      runs.crossJoin(dist)
        .select(lit(label).as("column_name"), col("n"), col("n_distinct"),
          col("n_runs"),
          round(col("n").cast("double") / col("n_runs").cast("double"), 6)
            .as("avg_run_len"),
          round((log(col("n").cast("double")) -
            col("clogc").cast("double") / col("n").cast("double")) /
            log(lit(2.0d)), 6).as("entropy_bits"),
          when(col("n_distinct") * 100 <= col("n") &&
              col("n") >= col("n_runs") * 2, "dict_rle")
            .when(col("n_distinct") * 100 <= col("n"), "dict")
            .when(col("n") >= col("n_runs") * 2, "rle")
            .otherwise("plain").as("encoding"))
    }
    encodingColumns.map { case (l, c) => profile(l, c) }
      .reduce(_ unionByName _)
      .orderBy(col("column_name"))
  }

  /** Multinomial Naive Bayes trained on an md5 70% split and graded
    * held-out, next to the majority-class baseline — the generative
    * text classifier at its deployment shape: the MODEL is a bounded
    * (|classes| × |vocab|) table, so training is one combinable
    * (class, feature) count aggregate and scoring is an equi-join of
    * test features against the broadcast model. Log-probabilities are
    * INTEGER NANO-NATS (round(ln·1e9)) so per-doc scores sum exactly
    * and the argmax is bit-portable — no FP tie can flip a prediction
    * between engines. Features: tokens + a length-bucket pseudo-token.
    * On THIS corpus the languages share one template vocabulary, so NB
    * lands below the majority baseline — which is exactly what the
    * baseline column is for: the feature audit that tells a curator
    * the features carry no class signal BEFORE a classifier ships. */
  def q322_naive_bayes(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        concat(graft.text.TextOps.tokens(col("text")),
          array(concat(lit("LEN#"),
            least(floor(col("n_chars") / lit(50.0)), lit(11.0))
              .cast("long").cast("string")))).as("fs"))
      .withColumn("draw",
        StableHash.bucket(concat(lit("nb#"), col("doc_id")), 10))
      .select(col("doc_id"), col("lang"), col("draw"),
        explode(col("fs")).as("feat"))
      .localCheckpoint(true)
    val train = feats.filter(col("draw") < 7)
    val test = feats.filter(col("draw") >= 7)
    // class stats: doc priors + total feature occurrences per lang
    val langStats = train.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_occ"))
    val vocab = train.select(col("feat")).distinct()
    val vocabN = vocab.agg(count(lit(1)).cast("long").as("v"))
    val counts = train.groupBy(col("lang"), col("feat"))
      .agg(count(lit(1)).cast("long").as("c"))
    // Laplace-smoothed model over the full lang × train-vocab grid,
    // log-probs as integer nano-nats
    val model = langStats.crossJoin(broadcast(vocabN))
      .crossJoin(vocab)
      .join(counts, Seq("lang", "feat"), "left")
      .na.fill(0L, Seq("c"))
      .select(col("lang"), col("feat"),
        round(log((col("c") + 1).cast("double") /
          (col("n_occ") + col("v")).cast("double")) * 1e9, 0)
          .cast("long").as("lnp"))
    val nTrainDocs = train.select(col("doc_id")).distinct()
      .agg(count(lit(1)).cast("long").as("n_train_docs"))
    val langSide = langStats.crossJoin(broadcast(vocabN))
      .crossJoin(broadcast(nTrainDocs))
      .select(col("lang").as("cand"),
        round(log(col("n_docs").cast("double") /
          col("n_train_docs").cast("double")) * 1e9, 0).cast("long")
          .as("prior_n"),
        round(log(lit(1.0d) /
          (col("n_occ") + col("v")).cast("double")) * 1e9, 0).cast("long")
          .as("lnp0"),
        col("n_docs"))
    // test feature counts; seen-feature partial scores per candidate
    val testFeats = test.groupBy(col("doc_id"), col("lang"), col("feat"))
      .agg(count(lit(1)).cast("long").as("k"))
    val partial = testFeats
      .join(broadcast(model.withColumnRenamed("lang", "cand")), Seq("feat"))
      .groupBy(col("doc_id"), col("lang"), col("cand"))
      .agg(sum(col("k") * col("lnp")).cast("long").as("p_seen"))
    val unseen = testFeats
      .join(broadcast(vocab), Seq("feat"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).cast("long").as("k_unseen"))
    val scored = test.select(col("doc_id"), col("lang")).distinct()
      .crossJoin(broadcast(langSide.drop("n_docs")))
      .join(partial, Seq("doc_id", "lang", "cand"), "left")
      .join(unseen, Seq("doc_id"), "left")
      .na.fill(0L, Seq("p_seen", "k_unseen"))
      .select(col("doc_id"), col("lang"),
        col("cand"), (col("prior_n") + col("p_seen") +
          col("k_unseen") * col("lnp0")).as("score"))
    val pred = scored.groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("neg"), col("cand").as("cand")))
        .as("best"))
      .select(col("doc_id"), col("lang").as("lang_true"),
        col("best.cand").as("lang_pred"))
    val confusion = pred.groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).cast("long").as("n"))
    val acc = pred.agg(count(lit(1)).cast("long").as("n_test"),
      sum(when(col("lang_true") === col("lang_pred"), 1L).otherwise(0L))
        .cast("long").as("n_correct"))
    // majority TRAIN class applied to test = the baseline to beat
    val majority = langSide
      .select(min(struct((-col("n_docs")).as("neg"), col("cand"))).as("m"))
      .select(col("m.cand").as("maj_lang"))
    val majAcc = pred.crossJoin(broadcast(majority))
      .agg(sum(when(col("lang_true") === col("maj_lang"), 1L)
        .otherwise(0L)).cast("long").as("n_maj"))
    confusion.crossJoin(broadcast(acc)).crossJoin(broadcast(majAcc))
      .select(col("lang_true"), col("lang_pred"), col("n"),
        round(col("n_correct").cast("double") /
          col("n_test").cast("double"), 6).as("accuracy"),
        round(col("n_maj").cast("double") /
          col("n_test").cast("double"), 6).as("majority_baseline"))
      .orderBy(col("lang_true"), col("lang_pred"))
  }

  /** The q323 ridge grid (raw-scale λ on cents² moments). */
  val ridgeLambdas: Seq[Long] = Seq(0L, 10000000L, 1000000000L,
    100000000000L)

  /** Ridge regression with 5-fold cross-validated λ selection — model
    * selection as a distributed computation: ONE pass collects exact
    * per-fold decimal moments; every (fold, λ) train/eval pair is then
    * closed-form arithmetic on the 5-row fold grain (train moments are
    * total − fold, so no second scan exists), and the chosen λ refits
    * on the full moments. Per-(fold,λ) MSEs (dollars² — a magnitude
    * where the 6-decimal quantum dominates the double ulp) quantize
    * round-6 → DECIMAL before the cross-fold sum (order-independent).
    * On THIS corpus price and quantity are generated independently, so
    * CV correctly selects the heaviest shrinkage — the guard rail
    * working as designed against a no-signal feature. Scale shape: the
    * scan is the only corpus touch; everything after is a 20-row
    * computation — the shape a 100 TB hyperparameter sweep must have
    * (folds never re-scan). */
  def q323_ridge_cv(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    val li = Tables.lineitem(spark, dir).select(
      expr("CAST(CAST(round(l_quantity) AS BIGINT) AS DECIMAL(11,0))")
        .as("x"),
      expr("CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(13,0))")
        .as("y"),
      StableHash.bucket(concat_ws(":", col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey")), 5)
        .as("fold"))
    val folds = li.groupBy(col("fold"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(19,0)") * col("x")).as("sxx"),
        sum(col("x").cast("decimal(19,0)") * col("y")).as("sxy"),
        sum(col("y").cast("decimal(19,0)") * col("y")).as("syy"))
      .localCheckpoint(true)
    val tot = folds.agg(sum(col("n")).cast("long").as("tn"),
      sum(col("sx")).as("tsx"), sum(col("sy")).as("tsy"),
      sum(col("sxx")).as("tsxx"), sum(col("sxy")).as("tsxy"),
      sum(col("syy")).as("tsyy"))
    val lamCol = explode(array(ridgeLambdas.map(lit): _*)).as("lambda")
    // train moments = total − fold; closed-form ridge on centered sums
    val evalRows = folds.crossJoin(broadcast(tot)).select(
        col("fold"), col("n"), col("sx"), col("sy"), col("sxx"),
        col("sxy"), col("syy"), col("tn"),
        (col("tn") - col("n")).cast("double").as("rn"),
        (col("tsx") - col("sx")).cast("double").as("rsx"),
        (col("tsy") - col("sy")).cast("double").as("rsy"),
        (col("tsxx") - col("sxx")).cast("double").as("rsxx"),
        (col("tsxy") - col("sxy")).cast("double").as("rsxy"),
        lamCol)
      .select(col("fold"), col("lambda"), col("n"), col("sx"), col("sy"),
        col("sxx"), col("sxy"), col("syy"), col("tn"),
        ((col("rsxy") - col("rsx") * col("rsy") / col("rn")) /
          (col("rsxx") - col("rsx") * col("rsx") / col("rn") +
            col("lambda").cast("double"))).as("b"),
        col("rsy"), col("rsx"), col("rn"))
      .select(col("fold"), col("lambda"), col("n"), col("sx"), col("sy"),
        col("sxx"), col("sxy"), col("syy"), col("tn"), col("b"),
        ((col("rsy") - col("b") * col("rsx")) / col("rn")).as("a"))
    // per-fold contribution in DOLLARS² per total row — magnitude ~1e7,
    // so the 6-decimal quantum dominates the double ulp and both
    // engines' double→DECIMAL conversions land on the same grid point
    // (raw cents² SSE is ~1e17, where decimal conversion is ulp-unsafe)
    val sse = evalRows.select(col("lambda"),
      round((col("syy").cast("double") +
        col("n").cast("double") * col("a") * col("a") +
        col("b") * col("b") * col("sxx").cast("double") -
        lit(2.0d) * col("a") * col("sy").cast("double") -
        lit(2.0d) * col("b") * col("sxy").cast("double") +
        lit(2.0d) * col("a") * col("b") * col("sx").cast("double")) /
        (lit(10000.0d) * col("tn").cast("double")), 6)
        .cast("decimal(38,6)").as("m"))
      .groupBy(col("lambda"))
      .agg(sum(col("m")).as("cv_mse"))
    val chosen = sse
      .select(min(struct(col("cv_mse"), col("lambda"))).as("m"))
      .select(col("m.lambda").as("chosen_lambda"))
    // final refit on the full moments with the chosen λ
    val fin = tot.crossJoin(broadcast(chosen)).select(
        col("chosen_lambda"),
        ((col("tsxy").cast("double") -
          col("tsx").cast("double") * col("tsy").cast("double") /
            col("tn").cast("double")) /
         (col("tsxx").cast("double") -
          col("tsx").cast("double") * col("tsx").cast("double") /
            col("tn").cast("double") +
          col("chosen_lambda").cast("double"))).as("fb"),
        col("tsy"), col("tsx"), col("tn"))
      .select(col("chosen_lambda"), col("fb"),
        ((col("tsy").cast("double") - col("fb") *
          col("tsx").cast("double")) / col("tn").cast("double")).as("fa"))
    sse.crossJoin(broadcast(fin))
      .select(col("lambda"),
        round(col("cv_mse").cast("double"), 2).as("cv_mse_usd2"),
        (col("lambda") === col("chosen_lambda")).as("chosen"),
        round(col("fa") / 100.0, 6).as("final_intercept"),
        round(col("fb") / 100.0, 6).as("final_slope_per_unit_qty"))
      .orderBy(col("lambda"))
  }

  /** Two-component Gaussian EM on the $1000-binned order-value
    * distribution, three unrolled iterations — distributed EM at its
    * scale shape: the corpus reduces ONCE to a bounded (bucket, count)
    * grain; every E-step is a per-bucket compiled expression against
    * the 1-row parameter set and every M-step is a combinable weighted
    * aggregate over ≤ a few hundred buckets. Responsibilities quantize
    * round-9 and weighted M-step terms round-6 → DECIMAL folds, so
    * every iteration's parameters are bit-identical in both engines
    * (the normal-pdf 1/√2π constant cancels in the responsibility
    * ratio and is never computed). Fixed iteration count: at 100 TB
    * you run EM as k scans of a pre-aggregated sketch table, not a
    * convergence loop over raw data. */
  def q324_gaussian_em(spark: SparkSession, dir: String): DataFrame = {
    val buckets = Tables.orders(spark, dir)
      .select((floor(col("o_totalprice") / lit(1000.0)).cast("long") *
        1000 + 500).cast("double").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint(true)
    val m0 = buckets.agg(
        sum(col("c")).cast("long").as("n"),
        sum(round(col("c") * col("v"), 6).cast("decimal(38,6)")).as("sv"),
        sum(round(col("c") * col("v") * col("v"), 3)
          .cast("decimal(38,3)")).as("svv"))
      .select(col("n"),
        (col("sv").cast("double") / col("n").cast("double")).as("mean"),
        sqrt(col("svv").cast("double") / col("n").cast("double") -
          (col("sv").cast("double") / col("n").cast("double")) *
          (col("sv").cast("double") / col("n").cast("double"))).as("sd"))
    var params = m0.select(col("n"), lit(0.5d).as("pi1"),
      (col("mean") - col("sd")).as("mu1"), col("sd").as("s1"),
      (col("mean") + col("sd")).as("mu2"), col("sd").as("s2"))
    for (_ <- 1 to 3) {
      val e = buckets.crossJoin(broadcast(params))
        .withColumn("phi1",
          exp((col("v") - col("mu1")) * (col("v") - col("mu1")) /
            (lit(-2.0d) * col("s1") * col("s1"))) / col("s1"))
        .withColumn("phi2",
          exp((col("v") - col("mu2")) * (col("v") - col("mu2")) /
            (lit(-2.0d) * col("s2") * col("s2"))) / col("s2"))
        .withColumn("r", round(col("pi1") * col("phi1") /
          (col("pi1") * col("phi1") +
            (lit(1.0d) - col("pi1")) * col("phi2")), 9))
      val mstep = e.agg(
        first(col("n")).as("n"),
        sum(round(col("c") * col("r"), 6).cast("decimal(38,6)")).as("w1"),
        sum(round(col("c") * col("r") * col("v"), 6)
          .cast("decimal(38,6)")).as("wx1"),
        sum(round(col("c") * col("r") * col("v") * col("v"), 3)
          .cast("decimal(38,3)")).as("wxx1"),
        sum(round(col("c") * (lit(1.0d) - col("r")), 6)
          .cast("decimal(38,6)")).as("w2"),
        sum(round(col("c") * (lit(1.0d) - col("r")) * col("v"), 6)
          .cast("decimal(38,6)")).as("wx2"),
        sum(round(col("c") * (lit(1.0d) - col("r")) * col("v") *
          col("v"), 3).cast("decimal(38,3)")).as("wxx2"))
      params = mstep.select(col("n"),
        (col("w1").cast("double") /
          (col("w1").cast("double") + col("w2").cast("double"))).as("pi1"),
        (col("wx1").cast("double") / col("w1").cast("double")).as("mu1"),
        sqrt(col("wxx1").cast("double") / col("w1").cast("double") -
          (col("wx1").cast("double") / col("w1").cast("double")) *
          (col("wx1").cast("double") / col("w1").cast("double"))).as("s1"),
        (col("wx2").cast("double") / col("w2").cast("double")).as("mu2"),
        sqrt(col("wxx2").cast("double") / col("w2").cast("double") -
          (col("wx2").cast("double") / col("w2").cast("double")) *
          (col("wx2").cast("double") / col("w2").cast("double"))).as("s2"))
    }
    params.select(col("n").as("n_orders"),
      round(col("pi1"), 6).as("pi1"),
      round(col("mu1"), 4).as("mu1"), round(col("s1"), 4).as("sigma1"),
      round(col("mu2"), 4).as("mu2"), round(col("s2"), 4).as("sigma2"))
  }

  /** BH z-scale thresholds Φ⁻¹(1 − iα/(2m)) for α=0.1, every m ≤ 25 and
    * i ≤ m — evaluated once on the driver (Acklam's inverse-normal
    * approximation, |err| < 1.2e-9) and interpolated verbatim into both
    * engines, so the BH pass itself is pure comparisons. */
  /** Holt double-exponential (level + trend) smoothing of the monthly
    * order-count series, one-step-ahead fits and a 3-step forecast —
    * sequential state recursion done the only way it scales: the corpus
    * reduces via one combinable (month) aggregate to the BOUNDED
    * calendar grain (~80 points), and the recursion folds over that
    * array with builtin higher-order functions (codegen'd, zero
    * shuffle, zero UDF). The oracle replays the identical recurrence as
    * a recursive CTE, so every level/trend double is bit-matched.
    * α=0.3, β=0.1. At 100 TB the monthly reduce is the only thing that
    * grows; the smoother's cost is fixed. */
  def q325_holt_smoothing(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).cast("long").as("y"))
    val state = monthly
      .agg(sort_array(collect_list(struct(col("ym"), col("y")))).as("arr"))
      .select(col("arr"),
        transform(col("arr"), s => s.getField("y").cast("double")).as("ys"))
      .selectExpr("arr",
        """aggregate(
             slice(ys, 2, size(ys) - 1),
             named_struct(
               's', element_at(ys, 1),
               'b', element_at(ys, 2) - element_at(ys, 1),
               'fit', CAST(array() AS ARRAY<DOUBLE>)),
             (acc, y) -> named_struct(
               's', 0.3D * y + 0.7D * (acc.s + acc.b),
               'b', 0.1D * ((0.3D * y + 0.7D * (acc.s + acc.b)) - acc.s)
                 + 0.9D * acc.b,
               'fit', array_append(acc.fit, acc.s + acc.b))) AS st""")
      .localCheckpoint(true)
    val fitRows = state
      .select(col("st"), posexplode(col("arr")).as(Seq("pos", "e")))
      .select(lit("fit").as("kind"), col("e.ym").as("ym"),
        col("e.y").as("y"),
        when(col("pos") === 0, lit(null).cast("double"))
          .otherwise(round(element_at(col("st.fit"), col("pos")), 6))
          .as("fitted"))
    val fcRows = state
      .select(col("st"), explode(array((1 to 3).map(h =>
        struct(lit(s"h$h").as("ym"), lit(h).as("h"))): _*)).as("f"))
      .select(lit("forecast").as("kind"), col("f.ym").as("ym"),
        lit(null).cast("long").as("y"),
        round(col("st.s") + col("f.h").cast("double") * col("st.b"), 6)
          .as("fitted"))
    fitRows.unionByName(fcRows).orderBy(col("kind"), col("ym"))
  }

  /** Neyman-optimal stratified-sampling allocation vs proportional —
    * the sampling-design advisor a 100 TB profiling job consults before
    * drawing: per stratum the exact-moment population σ, the Neyman
    * share n·N_hσ_h/ΣN_kσ_k, and the design-variance ratio
    * (ΣW_hσ_h)²/ΣW_hσ_h² that prices how much the optimal design saves.
    * One combinable aggregate; everything after is |strata|-row
    * arithmetic. Σ-terms quantize at dollar magnitudes where the
    * decimal quantum dominates the double ulp (the q323 lesson). */
  def q326_neyman_allocation(spark: SparkSession, dir: String): DataFrame = {
    val budget = 10000L
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("long")
    val strata = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("stratum"), cents.as("v"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).cast("long").as("n_h"),
        sum(col("v").cast("decimal(28,0)")).as("sv"),
        sum(col("v").cast("decimal(19,0)") * col("v")).as("svv"))
      .select(col("stratum"), col("n_h"),
        (sqrt((col("svv").cast("double") -
          col("sv").cast("double") * col("sv").cast("double") /
            col("n_h").cast("double")) / col("n_h").cast("double")) /
          lit(100.0d)).as("sd_usd"))
      .localCheckpoint(true)
    val tot = strata.agg(
      sum(col("n_h")).cast("long").as("n_tot"),
      sum(round(col("n_h").cast("double") * col("sd_usd"), 4)
        .cast("decimal(38,4)")).as("sns"),
      sum(round(col("n_h").cast("double") * col("sd_usd") * col("sd_usd"),
        0).cast("decimal(38,0)")).as("sns2"))
    strata.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_h"), round(col("sd_usd"), 4)
          .as("sd_usd"),
        round(lit(budget.toDouble) * col("n_h").cast("double") *
          col("sd_usd") / col("sns").cast("double"), 0).cast("long")
          .as("n_neyman"),
        round(lit(budget.toDouble) * col("n_h").cast("double") /
          col("n_tot").cast("double"), 0).cast("long").as("n_prop"),
        round((col("sns").cast("double") / col("n_tot").cast("double")) *
          (col("sns").cast("double") / col("n_tot").cast("double")) /
          (col("sns2").cast("double") / col("n_tot").cast("double")), 6)
          .as("neyman_vs_prop_var_ratio"))
      .orderBy(col("stratum"))
  }

  /** A/B-test power planner: per nation, the minimum detectable effect
    * (absolute and relative) of a 50/50 split on the order-completion
    * rate at α=0.05 two-sided, power 0.8 — MDE = (z_{α/2}+z_β)·
    * √(2p(1−p)/(n/2)). The z constants are driver-evaluated once
    * ([[invNorm]]) and interpolated verbatim into both engines, so the
    * plan is pure IEEE arithmetic on exact counts. The report every
    * experimentation platform runs before committing traffic: which
    * strata are even big enough to measure a 5% lift. Scale shape: one
    * combinable per-nation aggregate; |nations| rows after. */
  def q327_ab_power(spark: SparkSession, dir: String): DataFrame = {
    val z = invNorm(0.975) + invNorm(0.8)
    val base = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")
          .as("nk")), "o_custkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("nk"), col("n_name").as("nation"))),
        "nk")
      .groupBy(col("nation"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .cast("long").as("n_conv"))
      .withColumn("p",
        col("n_conv").cast("double") / col("n_orders").cast("double"))
      .withColumn("mde_abs", lit(z) *
        sqrt(lit(2.0d) * col("p") * (lit(1.0d) - col("p")) /
          (col("n_orders").cast("double") / lit(2.0d))))
    base.select(col("nation"), col("n_orders"), col("n_conv"),
        round(col("p"), 6).as("p_base"),
        round(col("mde_abs"), 6).as("mde_abs"),
        round(col("mde_abs") / col("p"), 6).as("mde_rel"),
        (col("mde_abs") / col("p") <= lit(0.05d)).as("powered_5pct_lift"),
        // per-arm n needed to detect a 5% relative lift — the number
        // the platform quotes back when the answer above is "no"
        round(lit(z * z) * lit(2.0d) * col("p") * (lit(1.0d) - col("p")) /
          ((lit(0.05d) * col("p")) * (lit(0.05d) * col("p"))), 0)
          .cast("long").as("n_req_per_arm_5pct"))
      .orderBy(col("nation"))
  }

  /** Top principal component of the embedding corpus by POWER ITERATION
    * in matrix-free form — the d×d covariance is never materialized:
    * each of the 4 iterations computes per-vector projections
    * s = (x−μ)·v ([[graft.similarity.CosineKnn.dot]], the compiled
    * sequential fold DuckDB's list_dot_product bit-matches) and
    * re-aggregates w_i = Σ s·(x−μ)_i per coordinate — so the same plan
    * works at d = 4096 where the Gram matrix wouldn't fit a task.
    * Coordinate sums quantize round-9 → DECIMAL (order-independent);
    * the fixed v₀ = 1/8·𝟙 makes the eigenvector sign deterministic.
    * Emits the Rayleigh eigenvalue, its share of total variance
    * (trace), and the first 8 loadings. Scale shape: one centered-
    * vector pass per iteration, shuffling only (i, term) pairs; the
    * parameter vector rides as a 1-row broadcast. */
  def q328_pca_power(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.CosineKnn
    val dim = 64
    val ex = Tables.embeddings(spark, dir)
      .select(col("vec_id"), CosineKnn.toDouble(col("embedding")).as("v"))
    val n = ex.agg(count(lit(1)).cast("long").as("n"))
    val mu = ex.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(col("x").cast("decimal(27,12)")).as("sx"))
      .crossJoin(broadcast(n))
      .select(col("i"),
        (col("sx").cast("double") / col("n").cast("double")).as("m"))
      .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("ms"))
      .select(transform(col("ms"), s => s.getField("m")).as("mu"))
    val cx = ex.crossJoin(broadcast(mu))
      .select(col("vec_id"),
        zip_with(col("v"), col("mu"), (a, b) => a - b).as("cx"))
      .localCheckpoint(true)
    var v = mu.select(
      transform(sequence(lit(1), lit(dim)), _ => lit(0.125d)).as("vec"))
    for (_ <- 1 to 4) {
      val s = cx.crossJoin(broadcast(v))
        .select(col("cx"), CosineKnn.dot(col("cx"), col("vec")).as("s"))
      val w = s.select(col("s"), posexplode(col("cx")).as(Seq("i", "cxi")))
        .groupBy(col("i"))
        .agg(sum(round(col("s") * col("cxi"), 9).cast("decimal(27,12)"))
          .as("wd"))
        .select(col("i"), col("wd").cast("double").as("w"))
      v = w.agg(
          sqrt(sum(round(col("w") * col("w"), 9).cast("decimal(27,12)"))
            .cast("double")).as("nrm"),
          sort_array(collect_list(struct(col("i"), col("w")))).as("ws"))
        .select(transform(col("ws"),
          s => s.getField("w") / col("nrm")).as("vec"))
        .localCheckpoint(true)
    }
    val proj = cx.crossJoin(broadcast(v))
      .select(col("cx"), CosineKnn.dot(col("cx"), col("vec")).as("s"))
      .agg(sum(round(col("s") * col("s"), 9).cast("decimal(27,12)"))
        .as("ss"))
    val trace = cx
      .select(CosineKnn.dot(col("cx"), col("cx")).as("t"))
      .agg(sum(round(col("t"), 9).cast("decimal(27,12)")).as("tr"))
    val head = v.select(posexplode(col("vec")).as(Seq("pos", "lv")))
      .filter(col("pos") < 8)
      .select((col("pos") + 1).cast("long").as("component"),
        round(col("lv"), 6).as("loading"))
    head.crossJoin(broadcast(n)).crossJoin(broadcast(proj))
      .crossJoin(broadcast(trace))
      .select(col("component"), col("loading"), col("n").as("n_vecs"),
        round(col("ss").cast("double") / col("n").cast("double"), 6)
          .as("top_eigenvalue"),
        round(col("ss").cast("double") / col("tr").cast("double"), 6)
          .as("variance_share"))
      .orderBy(col("component"))
  }

  /** Single-source shortest paths on the supplier↔customer fulfillment
    * graph (edge weight = 1 + the pair's smallest |ship − order| gap in
    * days — a temporal-proximity metric, since this corpus generates
    * the two dates independently and a signed "latency" would go
    * negative), four unrolled Bellman-Ford rounds from supplier 1 — the
    * Pregel/
    * delta-stepping layout every distributed SSSP uses: per round ONE
    * equi-join of the current distances against the edge list + ONE
    * min-combine, lineage truncated per round. Integer-day weights keep
    * every distance exact. The result is the reachability/latency
    * census after ≤4 hops, by node side. Scale shape: the edge build is
    * one (supp, cust) aggregate off the fact join; rounds touch only
    * (node, dist) pairs. */
  def q329_sssp_latency(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        col("l_shipdate"))
    val ed = li.join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
          col("o_orderdate")), "ok")
      .groupBy(col("sk"), col("ck"))
      .agg((min(abs(datediff(col("l_shipdate"), col("o_orderdate")))) + 1)
        .cast("long").as("w"))
    // node encoding: supplier 2k, customer 2k+1; undirected edges
    val edges = ed.select((col("sk") * 2).as("u"),
        (col("ck") * 2 + 1).as("v"), col("w"))
      .unionByName(ed.select((col("ck") * 2 + 1).as("u"),
        (col("sk") * 2).as("v"), col("w")))
      .localCheckpoint(true)
    var dist = edges.sparkSession.range(1, 2)
      .select(lit(2L).as("node"), lit(0L).as("d"))
    for (_ <- 1 to 4) {
      val relaxed = edges.join(dist.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node"), (col("d") + col("w")).as("d"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
    }
    dist.select(when(pmod(col("node"), lit(2L)) === 0, "supplier")
          .otherwise("customer").as("side"), col("d"))
      .groupBy(col("side"))
      .agg(count(lit(1)).cast("long").as("n_reached"),
        min(col("d")).as("min_days"), max(col("d")).as("max_days"),
        sum(col("d")).cast("long").as("sum_days"))
      .orderBy(col("side"))
  }

  /** Frame-level media near-dup — the video-dedup shape: payloads are
    * sliced into fixed 16-byte frames ([[graft.multimodal.Multimodal
    * .sampleFrames]], the batch-shape plumbing a real codec would fill),
    * each frame content-hashed, and near-dups found by frame-hash
    * equi-join with containment = |shared| / min(|A|,|B|) ≥ 0.5. The
    * frame index is frequency-capped (≤ 100 media per hash) before the
    * pair join — the q27 skew guard: one constant/black frame shared by
    * everything must never go quadratic. Scale shape: shuffles carry
    * (hash, id) pairs only; the pair aggregate lives on the candidate
    * grain; payload bytes never ride a shuffle. */
  def q330_frame_dedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.packBinary(
      Tables.documents(spark, dir), "doc_id", "text", "video", "source")
    val frames = Multimodal.sampleFrames(media, "payload",
        frameBytes = 16, stride = 1)
      .select(col("media_id"), md5(col("frame")).as("fh"))
      .distinct()
      .localCheckpoint(true)
    val nf = frames.groupBy(col("media_id"))
      .agg(count(lit(1)).cast("long").as("n_frames"))
    val capped = frames.join(
      frames.groupBy(col("fh")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 100).select(col("fh")), "fh")
    val pairs = capped
      .join(capped.select(col("fh"), col("media_id").as("mb")), "fh")
      .filter(col("media_id") < col("mb"))
      .groupBy(col("media_id"), col("mb"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .join(nf.select(col("media_id"), col("n_frames").as("n_a")),
        "media_id")
      .join(nf.select(col("media_id").as("mb"), col("n_frames")
        .as("n_b")), "mb")
      .select(col("media_id").as("id_a"), col("mb").as("id_b"),
        col("shared"), col("n_a"), col("n_b"),
        round(col("shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= 0.5)
    val summary = pairs
      .agg(count(lit(1)).cast("long").as("n_neardup_pairs"))
      .crossJoin(broadcast(media.agg(count(lit(1)).cast("long")
        .as("n_media"))))
    pairs.crossJoin(broadcast(summary))
      .orderBy(col("containment").desc, col("id_a"), col("id_b"))
      .limit(10)
  }

  /** V-optimal histogram construction (Jagadish et al., VLDB'98) — the
    * optimizer-statistics DP: partition the quantity frequency vector
    * into B = 8 piecewise-constant segments minimizing SSE. The corpus
    * reduces via one combinable value-grain aggregate to ≤ 50 (value,
    * freq) cells; the O(n²B) DP then runs IN-ENGINE as eight chained
    * higher-order-function layers over prefix-sum arrays (codegen'd, no
    * UDF, no driver loop over data), with per-layer argmin arrays so
    * the segment boundaries BACKTRACK exactly. All prefix sums are
    * integer-valued doubles (exact), array_min is order-independent,
    * and first-position argmin ties break identically in both engines —
    * the whole DP is bit-portable. Output: the 8 recovered segments
    * with their SSEs, plus the flat (B=1) SSE for comparison. Scale
    * shape: the scan is the only corpus touch; the DP is a fixed-size
    * 1-row computation. */
  def q331_voptimal_histogram(spark: SparkSession, dir: String): DataFrame = {
    val b = 8
    // sse of cells (j+1..i) given 1-based prefix arrays F1/F2, F(0)=0
    def sse(j: String, i: String): String = {
      def d(arr: String, k: String) =
        s"IF($k = 0, 0D, element_at($arr, $k))"
      s"((${d("F2", i)} - ${d("F2", j)}) - " +
        s"(${d("F1", i)} - ${d("F1", j)}) * " +
        s"(${d("F1", i)} - ${d("F1", j)}) / CAST($i - $j AS DOUBLE))"
    }
    val grain = Tables.lineitem(spark, dir)
      .groupBy(col("l_quantity").cast("long").as("v"))
      .agg(count(lit(1)).cast("long").as("f"))
    var df = grain
      .agg(sort_array(collect_list(struct(col("v"), col("f")))).as("vf"))
      .select(col("vf"),
        transform(col("vf"), s => s.getField("f").cast("double")).as("fv"))
      .selectExpr("vf", "size(fv) AS n",
        """aggregate(fv,
             named_struct('s1', CAST(array() AS ARRAY<DOUBLE>), 'a1', 0D,
                          's2', CAST(array() AS ARRAY<DOUBLE>), 'a2', 0D),
             (acc, x) -> named_struct(
               's1', array_append(acc.s1, acc.a1 + x), 'a1', acc.a1 + x,
               's2', array_append(acc.s2, acc.a2 + x * x),
               'a2', acc.a2 + x * x)) AS pre""")
      .selectExpr("vf", "n", "pre.s1 AS F1", "pre.s2 AS F2")
      .selectExpr("*",
        s"transform(sequence(1, n), i -> ${sse("0", "i")}) AS e1")
    for (k <- 2 to b) {
      val cand = s"transform(sequence($k - 1, i - 1), " +
        s"j -> element_at(e${k - 1}, j) + ${sse("j", "i")})"
      df = df.selectExpr("*",
        s"""transform(sequence(1, n), i -> IF(i < $k,
              CAST(NULL AS DOUBLE), array_min($cand))) AS e$k""",
        s"""transform(sequence(1, n), i -> IF(i < $k,
              CAST(NULL AS INT),
              CAST($k - 2 + array_position($cand, array_min($cand))
                AS INT))) AS a$k""")
    }
    // backtrack: i_8 = n, j_k = a_k[i_k], i_{k-1} = j_k, j_1 = 0
    df = df.selectExpr("*", "CAST(n AS INT) AS i8")
    for (k <- b to 2 by -1)
      df = df.selectExpr("*", s"element_at(a$k, i$k) AS j$k")
        .withColumnRenamed(s"j$k", s"i${k - 1}")
    val segs = (1 to b).map { k =>
      val lo = if (k == 1) "0" else s"i${k - 1}"
      s"named_struct('segment', ${k}L, 'lo', CAST($lo AS INT), " +
        s"'hi', i$k)"
    }.mkString(", ")
    df.selectExpr("vf", "n", "F1", "F2",
        s"element_at(e1, CAST(n AS INT)) AS flat_sse",
        s"element_at(e$b, CAST(n AS INT)) AS total_sse",
        s"explode(array($segs)) AS s")
      .selectExpr("s.segment AS segment",
        "element_at(vf, s.lo + 1).v AS v_start",
        "element_at(vf, s.hi).v AS v_end",
        "CAST(s.hi - s.lo AS BIGINT) AS n_values",
        s"""round((IF(s.hi = 0, 0D, element_at(F1, s.hi))
             - IF(s.lo = 0, 0D, element_at(F1, s.lo)))
             / CAST(s.hi - s.lo AS DOUBLE), 6) AS seg_avg_freq""",
        s"round(${sse("s.lo", "s.hi")}, 6) AS seg_sse",
        "round(total_sse, 6) AS total_sse",
        "round(flat_sse, 6) AS flat_sse")
      .orderBy(col("segment"))
  }

  /** KMV (k-minimum-values) sketch set operations — distinct-count,
    * union, and intersection ESTIMATES between two sources' trigram
    * vocabularies, each graded against its exact value in the same row
    * (Beyer et al., SIGMOD'07). The k smallest hashes per side come
    * from the repo's heap [[graft.plans.TopKPerKey]] operator (state
    * k per key, never a sort); the union sketch merges the two k-min
    * lists and re-takes k; ρ = |union k-min present in both sides|/k
    * gives Jaccard, and intersection = ρ·Û. Everything is integer md5
    * hashes — the estimates are bit-portable. k_eff = min(k, |side|)
    * keeps the small-SF corner deterministic. Scale shape: per side one
    * distinct + heap top-k; the sketches (≤k rows) broadcast; the exact
    * audit is the verification harness, not the production path. */
  def q332_kmv_setops(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.TopKPerKey
    val k = 64
    val p = 2305843009213693951L // 2^61 - 1, the StableHash modulus
    val grams = Tables.documents(spark, dir)
      .filter(col("source").isin("src0", "src1"))
      .select(col("source"), graft.text.TextOps.tokens(col("text"))
        .as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("source"),
        explode(transform(sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
          .as("g"))
      .distinct()
      .select(col("source"), element_at(
        graft.functions.MinHashSig.minhashSig(array(col("g")), 1), 1)
        .as("h"))
      .localCheckpoint(true)
    val kmin = TopKPerKey.topKPerKey(grams, Seq(col("source")),
      Seq(col("h").asc), k)
    val exact = grams.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_exact"))
    def side(s: String) = kmin.filter(col("source") === s)
      .select(col("h").as(s"h_$s"))
    val a = side("src0"); val b = side("src1")
    // merged union sketch: k smallest of the combined distinct hashes
    val merged = a.select(col("h_src0").as("h"))
      .unionByName(b.select(col("h_src1").as("h"))).distinct()
      .orderBy(col("h")).limit(k)
    val stats = merged
      .join(a, col("h") === col("h_src0"), "left")
      .join(b, col("h") === col("h_src1"), "left")
      .agg(count(lit(1)).cast("long").as("k_u"),
        max(col("h")).as("kth_u"),
        sum(when(col("h_src0").isNotNull && col("h_src1").isNotNull, 1L)
          .otherwise(0L)).cast("long").as("k_both"))
    def est(kEff: Column, kth: Column): Column =
      (kEff - 1).cast("double") / (kth.cast("double") / lit(p.toDouble))
    val perSide = kmin.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("k_eff"),
        max(col("h")).as("kth"))
      .join(exact, "source")
      .select(col("source"), col("k_eff"), col("n_exact"),
        round(est(col("k_eff"), col("kth")), 2).as("n_est"))
    val inter = grams.groupBy(col("h"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .agg(sum(when(col("cnt") === 2, 1L).otherwise(0L)).cast("long")
        .as("inter_exact"),
        count(lit(1)).cast("long").as("union_exact"))
    perSide.crossJoin(broadcast(stats)).crossJoin(broadcast(inter))
      .select(col("source"), col("k_eff"), col("n_exact"), col("n_est"),
        col("union_exact"),
        round(est(col("k_u"), col("kth_u")), 2).as("union_est"),
        col("inter_exact"),
        round(col("k_both").cast("double") / col("k_u").cast("double") *
          est(col("k_u"), col("kth_u")), 2).as("inter_est"))
      .orderBy(col("source"))
  }

  /** First-fit-decreasing bin packing as the small-file compaction
    * planner — per source, pack its documents (sizes = n_chars) into
    * 4096-byte target files and report bins used vs the ⌈total/cap⌉
    * lower bound. FFD is inherently sequential, so the scalable shape
    * is: fold the per-PARTITION sorted size list with builtin HOFs
    * (state = bin residual capacities; first-fit via boolean
    * array_position) — each partition's list is bounded by compaction
    * cadence, and partitions pack in parallel. All integer arithmetic.
    * This is the planning half of `lakehouse/Compaction.scala`, graded
    * by oracle. */
  def q333_ffd_compaction(spark: SparkSession, dir: String): DataFrame = {
    val cap = 4096
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_files"),
        sum(col("n_chars")).cast("long").as("total_bytes"),
        sort_array(collect_list(col("n_chars")), asc = false).as("sizes"))
      .selectExpr("source", "n_files", "total_bytes",
        s"""aggregate(sizes, CAST(array() AS ARRAY<BIGINT>),
              (bins, sz) -> IF(
                array_position(transform(bins, r -> r >= sz), true) > 0,
                zip_with(bins, sequence(1L, CAST(size(bins) AS BIGINT)),
                  (r, i) -> IF(i = array_position(
                    transform(bins, r2 -> r2 >= sz), true), r - sz, r)),
                array_append(bins, $cap - sz))) AS residuals""")
      .selectExpr("source", "n_files", "total_bytes",
        "CAST(size(residuals) AS BIGINT) AS n_bins_ffd",
        s"CAST(ceil(CAST(total_bytes AS DOUBLE) / $cap.0D) AS BIGINT)" +
          " AS lower_bound",
        s"""round(1.0D - CAST(total_bytes AS DOUBLE)
              / (CAST(size(residuals) AS DOUBLE) * $cap.0D), 6)
              AS waste_frac""")
      .selectExpr("*", "n_bins_ffd = lower_bound AS is_optimal")
      .orderBy(col("source"))
  }

  /** Weighted PageRank of the nation trade graph — edges customer-nation
    * → supplier-nation weighted by exact revenue centi-cents, three
    * damped (d=0.85) power-iteration rounds in INTEGER nano-units:
    * transfer(u→v) = (pr_u · 17 · w_uv) div (20 · outw_u), teleport base
    * = 0.15e9 div N, so every round is pure integer multiply +
    * floor-divide — bit-portable because Spark's `div` (IntegralDivide
    * over DECIMAL(38,0)) and DuckDB's HUGEINT `//` truncate identically
    * on positive operands. Dangling mass (a node with in- but no
    * out-edges) is dropped, the classic pruned-dangling variant —
    * deterministic either way. Scale shape: the loop body is one
    * equi-join (edges ⋈ pr on src, pr broadcastable at the nation grain,
    * shuffled at a url/document grain) + one groupBy(dst) sum per round,
    * with per-round lineage truncation — the standard distributed
    * PageRank plan; edge weights ride the join once, never the text. */
  def q334_pagerank(spark: SparkSession, dir: String): DataFrame = {
    val rounds = 3
    val revCc = (col("l_extendedprice").cast("decimal(18,2)") * 100)
      .cast("long") * (lit(100L) - (col("l_discount")
        .cast("decimal(4,2)") * 100).cast("long"))
    val ed = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey").as("u"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("v"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("u"), col("v"))
      .agg(sum(revCc).cast("long").as("w"))
    val edges = ed
      .join(ed.groupBy(col("u")).agg(sum(col("w")).cast("long").as("outw")),
        "u")
      .localCheckpoint(true)
    val nodes = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node"))).distinct()
      .localCheckpoint(true)
    val n = nodes.count() // bounded node census, sizes the teleport base
    val base = (150000000L * 2L + n) / (2L * n) // round-half-up 0.15e9/N
    var pr = nodes.select(col("node"), lit(1000000000L / n).as("pr"))
    for (_ <- 1 to rounds) {
      val in = edges.join(pr.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node"),
          expr("CAST(pr AS DECIMAL(38,0)) * CAST(17 * w AS DECIMAL(38,0))" +
            " div CAST(20 * outw AS DECIMAL(38,0))").as("t"))
        .groupBy(col("node")).agg(sum(col("t")).cast("long").as("recv"))
      pr = nodes.join(in, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("recv"), lit(0L))).as("pr"))
        .localCheckpoint(true)
    }
    pr.join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("node"), col("n_name"))), "node")
      .join(edges.groupBy(col("u").as("node"))
        .agg(max(col("outw")).as("out_cc")), Seq("node"), "left")
      .join(edges.groupBy(col("v").as("node"))
        .agg(sum(col("w")).cast("long").as("in_cc")), Seq("node"), "left")
      .select(col("n_name"), col("pr").as("pr_nano"),
        coalesce(col("out_cc"), lit(0L)).as("out_cc"),
        coalesce(col("in_cc"), lit(0L)).as("in_cc"),
        row_number().over(Window.orderBy(col("pr").desc, col("node").asc))
          .cast("long").as("rank"))
      .orderBy(col("rank"))
  }

  /** Trailing-zero rank ρ(rest) = 1 + count of trailing zero bits, as a
    * generated CASE chain over `rest % 2^k` — pure integer comparisons,
    * interpolated verbatim into BOTH engines (rest is 53-bit; rest = 0,
    * probability 2^-53, pins the cap 54). */
  private[graft] def sqlRho(rest: String): String = {
    val whens = (1 to 53).map { k =>
      s"WHEN $rest % ${1L << k} = ${1L << (k - 1)} THEN $k"
    }.mkString(" ")
    s"CASE WHEN $rest = 0 THEN 54 $whens ELSE 54 END"
  }

  /** HyperLogLog from scratch, bit-portable (Flajolet et al., AofA'07):
    * m=256 registers over the md5 % (2^61−1) hash universe — bucket =
    * h mod m, rank = trailing-zero ρ of the remaining 53 bits via
    * [[sqlRho]]'s integer CASE chain. The register sum Σ 2^(54−M_j) is
    * kept in exact BIGINT (every term a power of two ≤ 2^54, sum < 2^62)
    * and the raw estimate α_m·m²·2^54 / S is ONE IEEE division by the
    * driver-interpolated constant — no libm anywhere. Graded in-row
    * against the exact per-language trigram vocabulary, and the
    * mergeability contract is data: max-merging the five per-language
    * register sets must reproduce the directly-built union sketch
    * bit-for-bit (the property a 1000-executor rollup relies on).
    * Cardinalities here (≥3k per language) sit far above the 2.5m
    * linear-counting switchover, so the raw estimator is the correct
    * regime. Scale shape: one map-side-combinable groupBy onto ≤256·L
    * register rows; everything downstream is on the register grain. */
  def q335_hll(spark: SparkSession, dir: String): DataFrame = {
    val m = 256
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val cNum = alpha * m * m * math.pow(2.0, 54) // exact 2^54
    val grams = Tables.documents(spark, dir)
      .select(col("lang"), graft.text.TextOps.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("lang"),
        explode(transform(sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
          .as("g"))
      .distinct()
      .select(col("lang"), element_at(
        graft.functions.MinHashSig.minhashSig(array(col("g")), 1), 1)
        .as("h"))
      .localCheckpoint(true)
    def regs(df: DataFrame, keys: Seq[String]): DataFrame = df
      .selectExpr(keys :+ s"h % $m AS bucket" :+
        s"${sqlRho(s"(h div $m)")} AS rho": _*)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("mj"))
    def sketch(regDf: DataFrame, keys: Seq[String]): DataFrame = regDf
      .groupBy(keys.map(col): _*)
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 54 - mj)")).cast("long")
          .as("s_filled"),
        count(lit(1)).cast("long").as("n_filled"))
      .select((keys.map(col) :+
        (col("s_filled") + (lit(m.toLong) - col("n_filled")) *
          lit(1L << 54)).as("s_scaled") :+ col("n_filled")): _*)
      .withColumn("hll_est",
        round(lit(cNum) / col("s_scaled").cast("double"), 4))
    val perLang = sketch(regs(grams, Seq("lang")), Seq("lang"))
      .join(grams.select(col("lang"), col("h")).distinct()
        .groupBy(col("lang")).agg(count(lit(1)).cast("long").as("n_exact")),
        "lang")
    val globalGrams = grams.select(col("h")).distinct()
      .withColumn("scope", lit("__all__"))
    val direct = sketch(regs(globalGrams, Seq("scope")), Seq("scope"))
      .join(globalGrams.groupBy(col("scope"))
        .agg(count(lit(1)).cast("long").as("n_exact")), "scope")
    val merged = sketch(
      regs(grams, Seq("lang")).groupBy(col("bucket"))
        .agg(max(col("mj")).as("mj")).withColumn("scope", lit("__all__")),
      Seq("scope"))
      .select(col("scope"), col("s_scaled").as("s_merged"))
    perLang.select(col("lang").as("scope"), col("n_exact"), col("hll_est"),
        col("n_filled"), lit(true).as("merged_eq"))
      .unionByName(direct.join(merged, "scope")
        .select(col("scope"), col("n_exact"), col("hll_est"),
          col("n_filled"), (col("s_scaled") === col("s_merged"))
            .as("merged_eq")))
      .withColumn("rel_err",
        round(abs(col("hll_est") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6))
      .orderBy(col("scope"))
  }

  /** Greedy set-cover corpus selection — pick 5 sources maximizing
    * marginal trigram-vocabulary coverage (the submodular data-selection
    * rule; greedy is (1−1/e)-optimal, Nemhauser'78). Each round is one
    * distributed anti-join + per-source count; only the single argmax
    * row (count desc, source asc tie-break) is collected — bounded by
    * construction at k rows total. Cumulative coverage is the running
    * sum of marginals (disjoint by the anti-join), so no extra actions.
    * Terms ride shuffles as md5 hashes, never text. Scale shape: k
    * passes over the (source, hash) grain, each map-side combinable;
    * the candidate-source fan-in is the argmax aggregate, not a sort. */
  def q336_set_cover(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val grams = Tables.documents(spark, dir)
      .select(col("source"), graft.text.TextOps.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("source"),
        explode(transform(sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
          .as("g"))
      .distinct()
      .select(col("source"), element_at(
        graft.functions.MinHashSig.minhashSig(array(col("g")), 1), 1)
        .as("h"))
      .distinct()
      .localCheckpoint(true)
    val universe = grams.select(col("h")).distinct().count()
    var picked = Vector.empty[(String, Long)] // (source, gained)
    for (_ <- 1 to k) {
      val pickedSources = picked.map(_._1)
      val remaining =
        if (pickedSources.isEmpty) grams
        else grams.filter(!col("source").isin(pickedSources: _*))
      val uncovered =
        if (pickedSources.isEmpty) remaining
        else remaining.join(
          grams.filter(col("source").isin(pickedSources: _*))
            .select(col("h")).distinct(),
          Seq("h"), "left_anti")
      val top = uncovered.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("gained"))
        .orderBy(col("gained").desc, col("source").asc)
        .limit(1).collect() // bounded: exactly one planner row per round
      if (top.nonEmpty)
        picked :+= ((top(0).getString(0), top(0).getLong(1)))
    }
    val rows = picked.zipWithIndex.scanLeft(("", 0L, 0L, 0L)) {
      case ((_, _, cum, _), ((src, gained), i)) =>
        (src, i + 1L, cum + gained, gained)
    }.tail.map { case (src, r, cum, gained) =>
      (r, src, gained, cum,
        BigDecimal(cum.toDouble / universe.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    spark.createDataFrame(rows)
      .toDF("round", "source", "gained", "cum_covered", "coverage_frac")
      .orderBy(col("round"))
  }

  /** l-diversity + t-closeness audit (Machanavajjhala'07 / Li'07) — the
    * release gate [[graft.dq.PiiMask]]'s k-anonymity check (q73) does
    * not cover: per quasi-identifier group (mktsegment × nation), the
    * count of distinct sensitive values (account-balance band, 6 ordered
    * $2000 bands) and the ordered-domain earth-mover's distance between
    * the group's band distribution and the global one. EMD on an ordered
    * discrete domain is Σ|cum diffs|/(k−1), computed EXACTLY as integers
    * — |cum_g·N − cum_G·n_g| — with one final double division, so the
    * audit is bit-portable. Scale shape: one groupBy onto the (group ×
    * 6-band) grain, cumulative sums via windows whose partitions are 6
    * rows; the group spine is the bounded segment×nation cross. */
  def q337_anonymity_audit(spark: SparkSession, dir: String): DataFrame = {
    val k = 6
    val band = least(greatest(
      expr("(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)" +
        " + 100000) div 200000"), lit(0L)), lit(k - 1L)).cast("long")
    val rows = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_mktsegment").as("segment"), col("n_name").as("nation"),
        band.as("band"))
    val gb = rows.groupBy(col("segment"), col("nation"), col("band"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val spine = gb.select(col("segment"), col("nation")).distinct()
      .crossJoin(broadcast(
        spark.range(0, k).select(col("id").as("band"))))
    val wg = Window.partitionBy(col("segment"), col("nation"))
      .orderBy(col("band"))
    val grp = spine.join(gb, Seq("segment", "nation", "band"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("cum_g", sum(col("cnt")).over(wg).cast("long"))
    val glob = rows.groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("gcnt"))
    val globCum = spark.range(0, k).select(col("id").as("band"))
      .join(glob, Seq("band"), "left")
      .withColumn("gcnt", coalesce(col("gcnt"), lit(0L)))
      .withColumn("cum_n", sum(col("gcnt"))
        .over(Window.orderBy(col("band"))).cast("long"))
      .select(col("band"), col("cum_n"))
    val ng = gb.groupBy(col("segment"), col("nation"))
      .agg(sum(col("cnt")).cast("long").as("n_g"),
        count(lit(1)).cast("long").as("l_diversity"))
    val tot = rows.agg(count(lit(1)).cast("long").as("n_total"))
    val emdNum = grp.join(broadcast(globCum), "band")
      .join(ng.select(col("segment"), col("nation"), col("n_g")),
        Seq("segment", "nation"))
      .crossJoin(broadcast(tot))
      .filter(col("band") < k - 1)
      .groupBy(col("segment"), col("nation"))
      .agg(sum(abs(col("cum_g") * col("n_total")
        - col("cum_n") * col("n_g"))).cast("long").as("emd_num"),
        max(col("n_total")).as("n_total"))
    ng.join(emdNum, Seq("segment", "nation"))
      .select(col("segment"), col("nation"), col("n_g"),
        col("l_diversity"),
        round(col("emd_num").cast("double") /
          (col("n_g") * col("n_total") * lit(k - 1L)).cast("double"), 6)
          .as("emd"))
      .withColumn("l_ok", col("l_diversity") >= 3)
      .withColumn("t_ok", col("emd") <= 0.2)
      .orderBy(col("segment"), col("nation"))
  }

  /** Matryoshka dimension-truncation recall (Kusupati et al.,
    * NeurIPS'22) — the "can we search on a prefix of the embedding"
    * storage/latency decision, measured instead of assumed: for d ∈
    * {8,16,32,64}, recall@10 of prefix-d cosine top-10 against the
    * full-64-dim truth, per query and aggregated. Cosines use the
    * compiled sequential-fold [[graft.functions.DotProduct]] on sliced
    * vectors (FP-order parity with DuckDB's list_dot_product), ranks
    * tie-break on id, and recall is exact integer overlap / 10 — so
    * every output digit is bit-portable. The d=64 row is the built-in
    * sanity gate (must be 1.0). Scale shape: same broadcast-query plan
    * as q30 per d; at corpus scale the truncated search routes through
    * the q31 LSH buckets — this query grades whether the prefix is
    * good enough to do so. */
  def q338_matryoshka_recall(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.CosineKnn
    val k = 10
    val dims = Seq(8, 16, 32, 64)
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), CosineKnn.toDouble(col("embedding")).as("v"))
    def topk(d: Int): DataFrame = {
      val sliced = base.select(col("vec_id").as("id"),
        slice(col("v"), 1, d).as("v"))
        .withColumn("nrm", sqrt(CosineKnn.dot(col("v"), col("v"))))
      val qs = broadcast(sliced.filter(col("id") < 30)
        .select(col("id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("id").asc)
      qs.join(sliced, col("id") =!= col("query_id"))
        .withColumn("cosine",
          CosineKnn.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("id").as("neighbor_id"))
    }
    val truth = topk(64).localCheckpoint(true)
    val queries = truth.select(col("query_id")).distinct()
    dims.map { d =>
      val overlap = topk(d)
        .join(truth, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).cast("long").as("hits"))
      queries.join(overlap, Seq("query_id"), "left")
        .withColumn("hits", coalesce(col("hits"), lit(0L)))
        .agg(count(lit(1)).cast("long").as("n_queries"),
          sum(col("hits")).cast("long").as("sum_hits"),
          min(col("hits")).cast("long").as("min_hits"))
        .select(lit(d.toLong).as("d"), col("n_queries"),
          round(col("sum_hits").cast("double") /
            (col("n_queries") * k).cast("double"), 6).as("mean_recall"),
          round(col("min_hits").cast("double") / k, 6).as("min_recall"))
    }.reduce(_ unionByName _).orderBy(col("d"))
  }

  /** Distributed Borůvka minimum spanning forest of the nation
    * proximity graph (edge = min ship-latency days between a customer
    * nation and a supplier nation). Each round: per-component minimum
    * outgoing edge (weights made DISTINCT via wkey = w·10⁴ + u·31 + v,
    * so the MSF is unique and tie-free), then CANONICAL contraction —
    * min-label connected components of the chosen-edge graph via the
    * shared [[graft.transform.Dedup.duplicateClusters]] operator, which
    * is algorithm-independent truth (min label per component), so the
    * oracle reproduces it with a recursive-CTE closure rather than
    * mirroring label-prop. 5 rounds ≥ log₂(25) always suffice; rounds
    * after convergence choose nothing. Handles forests (disconnected
    * graphs) natively — no single-root assumption. Scale shape: per
    * round one join edges⋈labels (labels broadcastable at the nation
    * grain; partitioned co-join at a billion-node grain), one
    * per-component min aggregate, and a CC restricted to chosen edges;
    * per-round lineage truncation throughout. PlanSpec re-derives the
    * forest with driver-side Prim on the bounded edge list and pins
    * equality — engine parity AND algorithmic truth are both gated. */
  def q339_boruvka_mst(spark: SparkSession, dir: String): DataFrame = {
    import graft.transform.Dedup
    val ed0 = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("cn"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey").cast("long").as("sn"))),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("cn") =!= col("sn"))
      .select(least(col("cn"), col("sn")).as("u"),
        greatest(col("cn"), col("sn")).as("v"),
        (abs(datediff(col("l_shipdate"), col("o_orderdate"))) + 1)
          .cast("long").as("d"))
      .groupBy(col("u"), col("v")).agg(min(col("d")).as("w"))
    val edges = ed0
      .withColumn("wkey", col("w") * 10000L + col("u") * 31L + col("v"))
      .localCheckpoint(true)
    val nodes = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node"))).distinct()
      .localCheckpoint(true)
    var labels = nodes.select(col("node"), col("node").as("comp"))
    var mst = spark.range(0, 0)
      .select(col("id").as("u"), col("id").as("v"), col("id").as("w"),
        col("id").as("round"))
    for (r <- 1 to 5) {
      val ce = edges
        .join(labels.select(col("node").as("u"), col("comp").as("cu")), "u")
        .join(labels.select(col("node").as("v"), col("comp").as("cv")), "v")
        .filter(col("cu") =!= col("cv"))
      val both = ce.select(col("cu").as("c"),
          struct(col("wkey"), col("u"), col("v"), col("w"), col("cu"),
            col("cv")).as("e"))
        .unionByName(ce.select(col("cv").as("c"),
          struct(col("wkey"), col("u"), col("v"), col("w"), col("cu"),
            col("cv")).as("e")))
      val chosen = both.groupBy(col("c")).agg(min(col("e")).as("e"))
        .select(col("e.wkey").as("wkey"), col("e.u").as("u"),
          col("e.v").as("v"), col("e.w").as("w"), col("e.cu").as("cu"),
          col("e.cv").as("cv"))
        .distinct()
        .localCheckpoint(true)
      mst = mst.unionByName(chosen
        .select(col("u"), col("v"), col("w"), lit(r.toLong).as("round")))
      val compRelabel = Dedup.duplicateClusters(
        chosen.select(least(col("cu"), col("cv")).as("id_a"),
          greatest(col("cu"), col("cv")).as("id_b")),
        labels.select(col("comp")).distinct(), "comp")
      labels = labels
        .join(compRelabel.withColumnRenamed("cluster_id", "newc"), "comp")
        .select(col("node"), col("newc").as("comp"))
        .localCheckpoint(true)
    }
    mst.orderBy(col("w"), col("u"), col("v"))
  }

  /** Per-level Hilbert xy→d update expressions (the classic iterative
    * rot+accumulate, Wikipedia form), generated as pure-integer SQL over
    * named columns hx_i/hy_i/hd_i. The ONLY engine-specific spelling is
    * floor division, injected via `idiv` (`a div b` in Spark, `a // b`
    * in DuckDB) — identical arithmetic on the non-negative grid. */
  private[graft] def hilbertLevels(idiv: (String, String) => String,
                                   order: Int = 8): Seq[Seq[String]] = {
    val n = 1 << order
    (0 until order).map { i =>
      val k = order - 1 - i
      val s = 1L << k
      val (x, y, d) = (s"hx$i", s"hy$i", s"hd$i")
      val rx = s"(${idiv(x, s.toString)} % 2)"
      val ry = s"(${idiv(y, s.toString)} % 2)"
      val quad = s"(CASE WHEN $rx = 0 AND $ry = 0 THEN 0" +
        s" WHEN $rx = 0 AND $ry = 1 THEN 1" +
        s" WHEN $rx = 1 AND $ry = 1 THEN 2 ELSE 3 END)"
      Seq(
        s"($d + ${s * s} * $quad) AS hd${i + 1}",
        s"(CASE WHEN $ry = 1 THEN $x WHEN $rx = 1 THEN ${n - 1} - $y" +
          s" ELSE $y END) AS hx${i + 1}",
        s"(CASE WHEN $ry = 1 THEN $y WHEN $rx = 1 THEN ${n - 1} - $x" +
          s" ELSE $x END) AS hy${i + 1}")
    }
  }

  /** Hilbert-vs-Morton-vs-row-major locality audit — the q305 rank-gap
    * measurement extended with the better curve, on a 256×256 grid
    * (order-day × price-band cells from orders). For each grid-adjacent
    * cell pair, the |rank difference| under each ordering; lower average
    * gap = better clustering for range scans, which is exactly the
    * z-order vs hilbert file-layout decision `lakehouse/ZOrder` takes on
    * faith. The Hilbert index is 8 chained integer levels from
    * [[hilbertLevels]] — same generated text both engines. Scale shape:
    * the audit runs on the bounded distinct-cell grain (≤65536 cells);
    * ranks are windows over that grain, neighbor pairs an equi-join. */
  def q340_hilbert_locality(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.orders(spark, dir)
      .select(least(expr("datediff(to_date(o_orderdate)," +
          " to_date('1992-01-01')) div 10"), lit(255)).cast("long").as("cx"),
        least(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
          " AS BIGINT) div 200000"), lit(255)).cast("long").as("cy"))
      .distinct()
    var cur = pts.selectExpr("cx", "cy", "cx AS hx0", "cy AS hy0",
      "CAST(0 AS BIGINT) AS hd0")
    hilbertLevels((a, b) => s"($a div $b)").foreach { exprs =>
      cur = cur.selectExpr(Seq("*") ++ exprs: _*)
    }
    val morton = (0 until 8).map { bit =>
      shiftleft(shiftright(col("cx"), bit).bitwiseAND(lit(1L)), 2 * bit) +
        shiftleft(shiftright(col("cy"), bit).bitwiseAND(lit(1L)), 2 * bit + 1)
    }.reduce(_ + _)
    val keyed = cur.select(col("cx"), col("cy"), col("hd8").as("hilbert"))
      .withColumn("morton", morton)
      .withColumn("pid", col("cx") * 256 + col("cy"))
      .withColumn("rh", row_number().over(Window.orderBy(col("hilbert")))
        .cast("long"))
      .withColumn("rm", row_number().over(Window.orderBy(col("morton")))
        .cast("long"))
      .withColumn("rr", row_number().over(Window.orderBy(col("pid")))
        .cast("long"))
      .localCheckpoint(true)
    val a = keyed.select(col("cx"), col("cy"), col("rh").as("rha"),
      col("rm").as("rma"), col("rr").as("rra"))
    val b = keyed.select(col("cx").as("bx"), col("cy").as("by"),
      col("rh").as("rhb"), col("rm").as("rmb"), col("rr").as("rrb"))
    val edges = a.join(b, col("bx") === col("cx") + 1 && col("by") === col("cy"))
      .unionByName(
        a.join(b, col("bx") === col("cx") && col("by") === col("cy") + 1))
      .select(abs(col("rha") - col("rhb")).as("gh"),
        abs(col("rma") - col("rmb")).as("gm"),
        abs(col("rra") - col("rrb")).as("gr"))
      .localCheckpoint(true)
    def side(gap: String, rank: String, label: String): DataFrame = {
      val spatial = edges.agg(count(lit(1)).cast("long").as("n_edges"),
        sum(col(gap)).cast("long").as("gap_sum"),
        max(col(gap)).cast("long").as("max_rank_gap"))
      // the other direction: consecutive-rank cells' spatial distance —
      // curve continuity, what a sequential block scan actually touches
      val seq = keyed.select(col(rank).as("r"), col("cx"), col("cy"))
        .join(keyed.select((col(rank) - 1).as("r"), col("cx").as("nx"),
          col("cy").as("ny")), "r")
        .select((abs(col("cx") - col("nx")) + abs(col("cy") - col("ny")))
          .as("md"))
        .agg(sum(col("md")).cast("long").as("md_sum"),
          max(col("md")).cast("long").as("seq_max_dist"),
          count(lit(1)).cast("long").as("n_seq"))
      spatial.crossJoin(seq)
        .select(lit(label).as("ordering"), col("n_edges"),
          round(col("gap_sum").cast("double") /
            col("n_edges").cast("double"), 4).as("avg_rank_gap"),
          col("max_rank_gap"),
          round(col("md_sum").cast("double") /
            col("n_seq").cast("double"), 4).as("seq_avg_dist"),
          col("seq_max_dist"))
    }
    side("gh", "rh", "hilbert").unionByName(side("gm", "rm", "morton"))
      .unionByName(side("gr", "rr", "row_major"))
      .orderBy(col("ordering"))
  }

  /** Zone-map (min/max data-skipping) effectiveness advisor — the
    * measurement behind the "should we re-cluster this table" call:
    * orders are sliced into 1000-row files under TWO layouts (arrival =
    * orderkey ranges, vs date-clustered = sorted by orderdate), each
    * file gets a min/max zone map on order-day and price cents, and a
    * fixed workload (12 quarterly date ranges + 4 price bands) is
    * planned against the maps. Reported per (layout, predicate): files
    * hit, rows inside hit files vs rows actually matching, skip fraction
    * and scan waste — all integer counts, two exact divisions. The
    * date-clustered layout's near-1 skip_frac on date predicates and
    * unchanged price rows is the re-cluster decision, as data. Scale
    * shape: zone maps are one groupBy on the file grain (metadata
    * scale); predicate × zone-map is a bounded broadcast cross; matching
    * rows is one pass with the broadcast predicate list. The clustered
    * layout's global sort IS the modeled rewrite, not overhead. */
  /** q341's fixed workload — 12 quarterly date windows + 4 price bands,
    * shared verbatim with the oracle's VALUES list. Sentinel bounds are
    * Long.Min/MaxValue. */
  private[graft] val zonemapWorkload: Seq[(String, Long, Long, Long, Long)] = {
    val qtrs = for (y <- 0 to 2; q <- 0 to 3) yield
      (s"date_q${y * 4 + q + 1}", 365L + y * 365L + q * 91L,
        365L + y * 365L + q * 91L + 91L, Long.MinValue, Long.MaxValue)
    val bands = (0 to 3).map(i =>
      (s"price_b${i + 1}", Long.MinValue, Long.MaxValue,
        i * 7500000L, (i + 1) * 7500000L))
    (qtrs ++ bands).toSeq
  }

  def q341_zonemap_advisor(spark: SparkSession, dir: String): DataFrame = {
    val fileRows = 1000L
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
          .cast("long").as("d"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    val arrival = base.withColumn("fid",
      expr(s"o_orderkey div $fileRows")).withColumn("layout", lit("arrival"))
    val clustered = base.withColumn("fid",
        expr(s"(row_number() OVER (ORDER BY d, o_orderkey) - 1)" +
          s" div $fileRows"))
      .withColumn("layout", lit("date_clustered"))
    val zones = arrival.unionByName(clustered)
      .groupBy(col("layout"), col("fid"))
      .agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"),
        min(col("cents")).as("pmin"), max(col("cents")).as("pmax"),
        count(lit(1)).cast("long").as("n_rows"))
      .localCheckpoint(true)
    val preds = broadcast(spark.createDataFrame(zonemapWorkload)
      .toDF("pred", "dlo", "dhi", "plo", "phi"))
    val hit = zones.crossJoin(preds)
      .filter(col("dmax") >= col("dlo") && col("dmin") < col("dhi") &&
        col("pmax") >= col("plo") && col("pmin") < col("phi"))
      .groupBy(col("layout"), col("pred"))
      .agg(count(lit(1)).cast("long").as("files_hit"),
        sum(col("n_rows")).cast("long").as("rows_in_hit"))
    val matching = base.crossJoin(preds)
      .filter(col("d") >= col("dlo") && col("d") < col("dhi") &&
        col("cents") >= col("plo") && col("cents") < col("phi"))
      .groupBy(col("pred"))
      .agg(count(lit(1)).cast("long").as("rows_match"))
    val totals = zones.groupBy(col("layout"))
      .agg(count(lit(1)).cast("long").as("files_total"))
    preds.select(col("pred")).crossJoin(totals)
      .join(hit, Seq("layout", "pred"), "left")
      .join(matching, Seq("pred"), "left")
      .select(col("layout"), col("pred"), col("files_total"),
        coalesce(col("files_hit"), lit(0L)).as("files_hit"),
        coalesce(col("rows_in_hit"), lit(0L)).as("rows_in_hit"),
        coalesce(col("rows_match"), lit(0L)).as("rows_match"))
      .withColumn("skip_frac",
        round(lit(1.0) - col("files_hit").cast("double") /
          col("files_total").cast("double"), 6))
      .withColumn("waste_frac",
        when(col("rows_in_hit") === 0L, lit(0.0))
          .otherwise(round((col("rows_in_hit") - col("rows_match"))
            .cast("double") / col("rows_in_hit").cast("double"), 6)))
      .orderBy(col("layout"), col("pred"))
  }

  /** Dedup-funnel token accounting — the pipeline-composition report a
    * training-data run ends with: how many documents/tokens survive
    * each successive dedup stage (exact md5 → normalized-text md5 →
    * MinHash-LSH near-dup clusters, q23/q44/q54's exact operators
    * composed), with marginal removals attributed per stage. Each
    * stage's removal set is computed on the full corpus (canonical =
    * min doc_id), the funnel is the cumulative union, so attribution is
    * order-deterministic and every number is an integer count. Scale
    * shape: two content-hash groupBys + the q54 bucketed-capped LSH
    * cluster pass; stage aggregation is anti-joins on doc_id sets —
    * shuffles carry (hash, id) only, text never rides past its hash.
    * Bench note (r6→r7): slower than r5 at sf0.1 because stage 3 runs
    * the full bucket-capped LSH cluster pass — deliberate: the funnel
    * must price the SAME skew-guarded operator the production dedup
    * runs, not a cheaper uncapped shadow of it. */
  def q342_dedup_funnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.MinHashLsh
    import graft.transform.Dedup
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    def nonCanonical(h: Column): DataFrame = {
      val hashed = docs.select(col("doc_id"), h.as("h"))
      hashed.join(hashed.groupBy(col("h"))
          .agg(min(col("doc_id")).as("keep")), "h")
        .filter(col("doc_id") =!= col("keep")).select(col("doc_id"))
    }
    val rm1 = nonCanonical(md5(col("text")))
    val rm2 = nonCanonical(md5(graft.text.TextOps.normalize(col("text"))))
    val pairs = MinHashLsh.nearDuplicatePairs(docs, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        maxBucket = Some(100))
      .select(col("id_a"), col("id_b"))
    val rm3 = Dedup.duplicateClusters(pairs, docs.select(col("doc_id")),
        "doc_id")
      .filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
    val cums = Seq(
      (0L, "0_raw", None),
      (1L, "1_exact", Some(rm1)),
      (2L, "2_normalized", Some(rm1.unionByName(rm2).distinct())),
      (3L, "3_neardup",
        Some(rm1.unionByName(rm2).unionByName(rm3).distinct())))
    val stages = cums.map { case (i, name, rm) =>
      val kept = rm.fold(docs)(r => docs.join(r, Seq("doc_id"), "left_anti"))
      kept.agg(count(lit(1)).cast("long").as("docs_kept"),
          sum(col("toks")).cast("long").as("tokens_kept"))
        .select(lit(i).as("stage_id"), lit(name).as("stage"),
          col("docs_kept"), col("tokens_kept"))
    }.reduce(_ unionByName _)
    val w = Window.orderBy(col("stage_id"))
    stages
      .withColumn("docs_removed",
        coalesce(lag(col("docs_kept"), 1).over(w) - col("docs_kept"),
          lit(0L)))
      .withColumn("tok_frac",
        round(col("tokens_kept").cast("double") /
          first(col("tokens_kept")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"), 6))
      .orderBy(col("stage_id"))
  }

  /** Watermark-delay advisor — the number Structured Streaming's
    * `withWatermark` asks for, measured instead of guessed: events are
    * replayed in a deterministic arrival order (event time + md5-derived
    * jitter ≤ 120 s, the replay harness for a corpus that is stored
    * time-sorted), the high-water mark is the running max of event time
    * over arrival, lateness = hwm − ts, and for each candidate delay the
    * fraction of events a `withWatermark(delay)` pipeline would drop.
    * All integer epoch-micros. Scale shape: the running max is
    * ASSOCIATIVE, so it is computed blockwise — per-10-minute-block
    * windows plus a prefix-max over the bounded block grain (the q266
    * prefix-sum pattern) — never one global single-partition window; the
    * oracle's global window is mathematically identical. */
  def q343_watermark_advisor(spark: SparkSession, dir: String): DataFrame = {
    val delays = Seq(0L, 5L, 30L, 60L, 120L) // seconds
    // fan: the per-event md5 jitter kernel otherwise runs in the single
    // scan task (guide §2.5; no-op at corpus scale)
    val ev = Tables.fan(Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("tus")))
      .withColumn("jit", element_at(graft.functions.MinHashSig
        .minhashSig(array(col("event_id").cast("string")), 1), 1)
        % 120000000L)
      .withColumn("arrival", col("tus") + col("jit"))
      .withColumn("blk", expr("arrival div 600000000"))
    val wIn = Window.partitionBy(col("blk"))
      .orderBy(col("arrival"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blkMax = ev.groupBy(col("blk"))
      .agg(max(col("tus")).as("bmax"))
      .withColumn("pmax", max(col("bmax")).over(
        Window.orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)))
    val late = ev.withColumn("wmax", max(col("tus")).over(wIn))
      .join(broadcast(blkMax.select(col("blk"), col("pmax"))), "blk")
      .withColumn("hwm", greatest(col("wmax"),
        coalesce(col("pmax"), lit(Long.MinValue))))
      .withColumn("late_us", col("hwm") - col("tus"))
      .localCheckpoint(true)
    val dl = broadcast(spark.createDataFrame(delays.map(Tuple1(_)))
      .toDF("delay_s"))
    late.crossJoin(dl)
      .groupBy(col("delay_s"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(when(col("late_us") > col("delay_s") * 1000000L, 1L)
          .otherwise(0L)).cast("long").as("dropped"),
        max(col("late_us")).cast("long").as("max_late_us"))
      .withColumn("drop_frac", round(col("dropped").cast("double") /
        col("n_events").cast("double"), 6))
      .orderBy(col("delay_s"))
  }

  /** Tokenizer vocabulary-size OOV curve — the vocab-budget decision:
    * train a frequency vocabulary on the 80% doc_id-hash split, then for
    * each candidate size N ∈ {500, 2000, 8000} measure held-out OOV at
    * the token-INSTANCE and token-TYPE grain plus train-mass coverage.
    * Vocab selection is (count desc, token asc) — total order, no ties.
    * All integer counts, three exact divisions per row. Scale shape:
    * one groupBy per split onto the token grain (map-side combinable);
    * each vocab is a bounded top-N (TakeOrderedAndProject, never a full
    * sort); OOV is a broadcast join of eval token counts against the
    * ≤8000-row vocab. */
  def q344_vocab_oov(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(500, 2000, 8000)
    // units are word TRIGRAMS (the corpus' whitespace vocabulary is a
    // closed 31-word set by construction — trigrams are the open-class
    // unit a merge-based tokenizer would actually compete over)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
          .as("tok"))
    val train = toks.filter(col("doc_id") % 10 < 8)
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint(true)
    val eval_ = toks.filter(col("doc_id") % 10 >= 8)
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("ec"))
      .localCheckpoint(true)
    val trainTotal = train.agg(sum(col("c")).cast("long").as("train_total"))
    val evalTotal = eval_.agg(sum(col("ec")).cast("long").as("eval_inst"),
      count(lit(1)).cast("long").as("eval_types"))
    sizes.map { n =>
      val vocab = broadcast(train.orderBy(col("c").desc, col("tok").asc)
        .limit(n))
      val inVocab = eval_.join(vocab.select(col("tok")), Seq("tok"))
        .agg(coalesce(sum(col("ec")), lit(0L)).cast("long").as("in_inst"),
          count(lit(1)).cast("long").as("in_types"))
      val vstats = vocab.agg(count(lit(1)).cast("long").as("vocab_actual"),
        sum(col("c")).cast("long").as("vocab_mass"))
      vstats.crossJoin(trainTotal).crossJoin(evalTotal).crossJoin(inVocab)
        .select(lit(n.toLong).as("vocab_requested"), col("vocab_actual"),
          round(col("vocab_mass").cast("double") /
            col("train_total").cast("double"), 6).as("train_coverage"),
          round((col("eval_inst") - col("in_inst")).cast("double") /
            col("eval_inst").cast("double"), 6).as("oov_inst_frac"),
          round((col("eval_types") - col("in_types")).cast("double") /
            col("eval_types").cast("double"), 6).as("oov_type_frac"))
    }.reduce(_ unionByName _).orderBy(col("vocab_requested"))
  }

  /** Exactly-once dedup state-TTL advisor — the
    * `dropDuplicatesWithinWatermark` retention knob, measured: the q343
    * replay harness is extended with at-least-once redeliveries (every
    * h%7 event redelivered once, md5-jittered up to 10 min later), the
    * stream's watermark is the running max arrival (same block-prefix
    * associative decomposition), and a redelivery is CAUGHT iff at its
    * arrival the first copy's state has not been evicted — watermark −
    * TTL ≤ first arrival, the engine's exact eviction rule. Reported per
    * candidate TTL: missed/caught redeliveries and the duplicate rate
    * the sink would see. All integer epoch-micros. Scale shape: one
    * union + the blockwise running max + a broadcast TTL cross on the
    * redelivery grain; no global single-partition window. */
  def q345_dedup_ttl_advisor(spark: SparkSession, dir: String): DataFrame = {
    val ttls = Seq(60L, 180L, 600L, 1200L) // seconds
    // fan: the per-event md5 jitter kernel otherwise runs in the single
    // scan task (guide §2.5; no-op at corpus scale)
    val base = Tables.fan(Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("tus")))
      .withColumn("h", element_at(graft.functions.MinHashSig
        .minhashSig(array(col("event_id").cast("string")), 1), 1))
      .withColumn("arr1", col("tus") + col("h") % 120000000L)
    val redeliv = base.filter(col("h") % 7 === 0)
      .withColumn("arr2", col("arr1") + 1L + col("h") % 600000000L)
    val deliveries = base.select(col("event_id"), col("tus"),
        col("arr1").as("arrival"), lit(0).as("copy"))
      .unionByName(redeliv.select(col("event_id"), col("tus"),
        col("arr2").as("arrival"), lit(1).as("copy")))
      .withColumn("blk", expr("arrival div 600000000"))
    // watermark = running max EVENT time in ARRIVAL order (blockwise)
    val wIn = Window.partitionBy(col("blk"))
      .orderBy(col("arrival"), col("event_id"), col("copy"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blkMax = deliveries.groupBy(col("blk"))
      .agg(max(col("tus")).as("bmax"))
      .withColumn("pmax", max(col("bmax")).over(
        Window.orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)))
    val gaps = deliveries
      .withColumn("wmax", max(col("tus")).over(wIn))
      .join(broadcast(blkMax.select(col("blk"), col("pmax"))), "blk")
      .withColumn("hwm", greatest(col("wmax"),
        coalesce(col("pmax"), lit(Long.MinValue))))
      .filter(col("copy") === 1)
      .select(col("event_id"), (col("hwm") - col("tus")).as("evict_gap"))
      .localCheckpoint(true)
    val tl = broadcast(spark.createDataFrame(ttls.map(Tuple1(_)))
      .toDF("ttl_s"))
    gaps.crossJoin(tl)
      .groupBy(col("ttl_s"))
      .agg(count(lit(1)).cast("long").as("n_redeliveries"),
        sum(when(col("evict_gap") > col("ttl_s") * 1000000L, 1L)
          .otherwise(0L)).cast("long").as("missed"),
        max(col("evict_gap")).cast("long").as("max_evict_gap_us"))
      .withColumn("caught", col("n_redeliveries") - col("missed"))
      .withColumn("miss_frac", round(col("missed").cast("double") /
        col("n_redeliveries").cast("double"), 6))
      .orderBy(col("ttl_s"))
  }

  /** Join-strategy cost advisor — the broadcast-vs-shuffle decision a
    * 1000-executor plan hinges on, computed from EXACT table bytes
    * (fixed column widths + measured string lengths, one combinable
    * aggregate per table) rather than assumed: for each candidate join,
    * the sort-merge shuffle cost (both sides move once), the broadcast
    * replication cost (small side × executor count), the break-even
    * executor count (below it broadcast wins), and whether Spark's
    * default 10 MB autoBroadcastJoinThreshold would fire. Every number
    * is an integer byte count; two integer divisions. Scale shape: the
    * stats pass is one agg per table; the advisor itself is 3 rows. */
  def q346_join_strategy(spark: SparkSession, dir: String): DataFrame = {
    val nExec = 1000L
    val bcThreshold = 10L * 1024 * 1024
    def stats(df: DataFrame, name: String, fixed: Long,
              strCols: Seq[String]): DataFrame = {
      val strBytes = strCols.map(c => sum(length(col(c)).cast("long")))
        .reduceOption(_ + _).getOrElse(lit(0L))
      df.agg(count(lit(1)).cast("long").as("rows"),
          (sum(lit(fixed)) + strBytes).cast("long").as("bytes"))
        .select(lit(name).as("t"), col("rows"), col("bytes"))
    }
    val li = stats(Tables.lineitem(spark, dir), "lineitem",
      8 * 5 + 4 + 8 * 3, Seq("l_returnflag", "l_linestatus"))
    val ord = stats(Tables.orders(spark, dir), "orders",
      8 * 2 + 8 + 8, Seq("o_orderstatus", "o_orderpriority"))
    val cust = stats(Tables.customer(spark, dir), "customer",
      8 + 4 + 8, Seq("c_name", "c_mktsegment"))
    val part = stats(Tables.part(spark, dir), "part", 8 + 4 + 8,
      Seq("p_name", "p_brand", "p_type"))
    def advise(a: DataFrame, b: DataFrame, name: String): DataFrame =
      a.select(col("rows").as("rows_a"), col("bytes").as("bytes_a"))
        .crossJoin(b.select(col("rows").as("rows_b"),
          col("bytes").as("bytes_b")))
        .select(lit(name).as("join_name"), col("rows_a"), col("rows_b"),
          col("bytes_a"), col("bytes_b"),
          (col("bytes_a") + col("bytes_b")).as("smj_shuffle_bytes"),
          (least(col("bytes_a"), col("bytes_b")) * nExec)
            .as("bc_replicated_bytes"),
          expr(s"(bytes_a + bytes_b) div least(bytes_a, bytes_b)")
            .as("breakeven_execs"),
          (least(col("bytes_a"), col("bytes_b")) <= bcThreshold)
            .as("default_would_broadcast"))
        .withColumn("recommended",
          when(col("bc_replicated_bytes") < col("smj_shuffle_bytes"),
            "broadcast").otherwise("sort_merge"))
    advise(li, ord, "lineitem_orders")
      .unionByName(advise(ord, cust, "orders_customer"))
      .unionByName(advise(li, part, "lineitem_part"))
      .orderBy(col("join_name"))
  }

  /** N-gram-release privacy audit — does publishing per-document
    * trigram statistics leak the document verbatim? Each document's
    * trigrams form a de Bruijn graph (bigram nodes, trigram edges); if
    * every bigram node has exactly ONE distinct successor the greedy
    * walk from the start bigram is forced and the text reconstructs
    * uniquely. Reported per language: the fraction of walk-deterministic
    * (= reconstructible) documents and branching-factor stats — the
    * evidence behind "n-gram stats are not an anonymization". All
    * integer counts. Scale shape: one explode to (doc, bigram,
    * successor) hashes, two combinable groupBys; text never rides past
    * its grams. */
  def q347_ngram_privacy(spark: SparkSession, dir: String): DataFrame = {
    val tri = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(col("tk")) - 2),
          i => struct(
            concat_ws(" ", element_at(col("tk"), i),
              element_at(col("tk"), i + 1)).as("pre"),
            element_at(col("tk"), i + 2).as("nxt")))).as("e"))
      .select(col("doc_id"), col("lang"), col("e.pre").as("pre"),
        col("e.nxt").as("nxt"))
      .distinct()
    val branching = tri.groupBy(col("doc_id"), col("lang"), col("pre"))
      .agg(count(lit(1)).cast("long").as("n_succ"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(max(col("n_succ")).cast("long").as("max_branch"))
    branching.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("max_branch") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_reconstructible"),
        max(col("max_branch")).as("max_branch"),
        sum(col("max_branch")).cast("long").as("branch_sum"))
      .select(col("lang"), col("n_docs"), col("n_reconstructible"),
        round(col("n_reconstructible").cast("double") /
          col("n_docs").cast("double"), 6).as("reconstructible_frac"),
        col("max_branch"),
        round(col("branch_sum").cast("double") /
          col("n_docs").cast("double"), 4).as("avg_max_branch"))
      .orderBy(col("lang"))
  }

  /** LSH banding S-curve, measured — the (bands × rows) design sweep
    * behind every MinHash dedup config in this library: for (32×2),
    * (16×4), (8×8) over the same 64-hash signatures, the candidate
    * count (cost), verified ≥0.5-Jaccard pairs, and recall against the
    * exact truth. More rows per band = sharper threshold = fewer
    * false candidates but lower recall; this query turns that theory
    * curve into data so q27/q54/q80 configs are chosen, not assumed.
    * All integer pair counts. Scale shape: one signature pass feeds all
    * three bandings; candidates stay bucket-capped per config. */
  def q348_lsh_sweep(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.MinHashLsh
    val docs = Tables.documents(spark, dir)
    // fan before every shingle/digest kernel: single-row-group scans run
    // these one-core otherwise (guide §2.5); Tables.fan no-ops at scale
    val docsF = Tables.fan(docs.select(col("doc_id"), col("text")))
    val sets = MinHashLsh.fingerprints(docsF, "doc_id", "text")
      .localCheckpoint(true)
    // exact ≥0.5 truth via the metric-implied length band (q292's shape)
    val slim = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    val a = slim.select(col("doc_id").as("id_a"), col("lang").as("la"),
        col("n_chars").as("nca"))
      .withColumn("nck", explode(array((-16 to 16).map(d =>
        col("nca") + lit(d)): _*)))
    val grams = docsF.select(col("doc_id"),
      array_sort(graft.text.TextOps.shingles(col("text"), 3)).as("sg"))
    val truth = a.join(slim.select(col("doc_id").as("id_b"),
        col("lang").as("lb"), col("n_chars").as("ncb")),
        col("la") === col("lb") && col("nck") === col("ncb") &&
          col("id_a") < col("id_b"))
      .join(grams.select(col("doc_id").as("id_a"), col("sg").as("ga")),
        "id_a")
      .join(grams.select(col("doc_id").as("id_b"), col("sg").as("gb")),
        "id_b")
      .filter(graft.functions.JaccardSim.jaccardSimSorted(col("ga"),
        col("gb")) >= 0.5)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val nTruth = truth.agg(count(lit(1)).cast("long").as("n_exact"))
    Seq((32, 2), (16, 4), (8, 8)).map { case (b, r) =>
      val cand = MinHashLsh.candidatePairs(sets, "doc_id", b, r,
        maxBucket = Some(100)).localCheckpoint(true)
      val nCand = cand.agg(count(lit(1)).cast("long").as("n_candidates"))
      val hits = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).cast("long").as("n_hits"))
      nCand.crossJoin(broadcast(hits)).crossJoin(broadcast(nTruth))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_hits"), col("n_exact"),
          round(col("n_hits").cast("double") /
            col("n_exact").cast("double"), 6).as("recall"),
          round(col("n_candidates").cast("double") /
            col("n_exact").cast("double"), 4).as("cost_ratio"))
    }.reduce(_ unionByName _).orderBy(col("rows_per_band"))
  }

  /** Prefix-filtering similarity self-join (PPJoin family, Chaudhuri
    * ICDE'06 / Xiao WWW'08) — the LOSSLESS blocking alternative to LSH:
    * order each document's shingles by global rarity (df asc, gram asc),
    * keep only the first |s| − ⌈t·|s|⌉ + 1 of them (integer form for
    * t=0.5: sz − (sz+1) div 2 + 1), and any pair with Jaccard ≥ t MUST
    * share a prefix gram — recall 1.0 by theorem, verified here against
    * the exact truth and contrasted with the 16×4 MinHash blocker's
    * cost. Length filter 2·min ≥ max prunes the rest. All integer pair
    * counts. Scale shape: candidates come from an equi-join on PREFIX
    * grams only (the rarest ones — bounded fan-out by construction);
    * the df pass is one combinable aggregate; verification touches
    * candidates only. */
  def q349_prefix_filter_join(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.MinHashLsh
    val docs = Tables.documents(spark, dir)
    // fan before the shingle kernels (guide §2.5; no-op at corpus scale)
    val docsF = Tables.fan(docs.select(col("doc_id"), col("text")))
    val sets = docsF.select(col("doc_id"),
        array_sort(graft.text.TextOps.shingles(col("text"), 3)).as("sg"))
      .filter(size(col("sg")) > 0)
      .localCheckpoint(true)
    val grams = sets.select(col("doc_id"), explode(col("sg")).as("g"))
    val dfreq = grams.groupBy(col("g"))
      .agg(count(lit(1)).cast("long").as("df"))
    val sizes = sets.select(col("doc_id"), size(col("sg")).cast("long")
      .as("sz"))
    val pref = grams.join(dfreq, "g").join(sizes, "doc_id")
      .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("g"))).cast("long"))
      .filter(col("rnk") <= expr("sz - ((sz + 1) div 2) + 1"))
      .select(col("doc_id"), col("g"), col("sz"))
    val cand = pref.select(col("doc_id").as("id_a"), col("g"),
        col("sz").as("sa"))
      .join(pref.select(col("doc_id").as("id_b"), col("g"),
        col("sz").as("sb")), "g")
      .filter(col("id_a") < col("id_b") &&
        least(col("sa"), col("sb")) * 2 >= greatest(col("sa"), col("sb")))
      .select(col("id_a"), col("id_b")).distinct()
      .localCheckpoint(true)
    val verified = cand
      .join(sets.select(col("doc_id").as("id_a"), col("sg").as("ga")),
        "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sg").as("gb")),
        "id_b")
      .filter(graft.functions.JaccardSim.jaccardSimSorted(col("ga"),
        col("gb")) >= 0.5)
      .select(col("id_a"), col("id_b"))
    // exact truth (q292's metric-implied length band) + the LSH contrast
    val slim = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    val a0 = slim.select(col("doc_id").as("id_a"), col("lang").as("la"),
        col("n_chars").as("nca"))
      .withColumn("nck", explode(array((-16 to 16).map(d =>
        col("nca") + lit(d)): _*)))
    val truth = a0.join(slim.select(col("doc_id").as("id_b"),
        col("lang").as("lb"), col("n_chars").as("ncb")),
        col("la") === col("lb") && col("nck") === col("ncb") &&
          col("id_a") < col("id_b"))
      .join(sets.select(col("doc_id").as("id_a"), col("sg").as("ga")),
        "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sg").as("gb")),
        "id_b")
      .filter(graft.functions.JaccardSim.jaccardSimSorted(col("ga"),
        col("gb")) >= 0.5)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val lshCand = MinHashLsh.candidatePairs(
      MinHashLsh.fingerprints(docsF, "doc_id", "text"), "doc_id",
      bands = 16, rowsPerBand = 4, maxBucket = Some(100))
    def audit(c: DataFrame, v: DataFrame, name: String): DataFrame = {
      val nC = c.agg(count(lit(1)).cast("long").as("n_candidates"))
      val nV = truth.join(v, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).cast("long").as("n_found"))
      val nT = truth.agg(count(lit(1)).cast("long").as("n_truth"))
      nC.crossJoin(broadcast(nV)).crossJoin(broadcast(nT))
        .select(lit(name).as("blocker"), col("n_candidates"),
          col("n_found"), col("n_truth"),
          round(col("n_found").cast("double") /
            col("n_truth").cast("double"), 6).as("recall"),
          round(col("n_candidates").cast("double") /
            col("n_truth").cast("double"), 4).as("cost_ratio"))
    }
    audit(cand, verified, "prefix_filter")
      .unionByName(audit(lshCand.select(col("id_a"), col("id_b")),
        lshCand.select(col("id_a"), col("id_b")), "minhash_16x4"))
      .orderBy(col("blocker"))
  }

  /** Optimizer-histogram bake-off — equi-width vs equi-depth vs
    * maxdiff (Poosala VLDB'96), graded the only way that matters: range
    * -selectivity estimation error over a fixed 16-predicate workload.
    * Order prices reduce to a bounded $10k-cell grain (one combinable
    * aggregate); each scheme buckets the SAME ~55 cells 8 ways
    * (equi-width by index, equi-depth by integer cumulative rank,
    * maxdiff splitting at the 7 largest adjacent-count drops with
    * deterministic tie-break); estimates interpolate uniformly within
    * buckets; predicates are cell-aligned so the exact side is an
    * integer cell sum. Reported per scheme: mean/max absolute relative
    * error — the q260/q331 design choice, decided by data. Scale shape:
    * everything after the cell aggregate lives on the ≤55-cell grain. */
  /** q350's fixed range workload on the $10k cell grain — [lo, hi]
    * inclusive cell indices, shared verbatim with the oracle. */
  private[graft] val histBakeoffPreds: Seq[(String, Long, Long)] =
    (0 until 16).map(i => (s"p${"%02d".format(i)}",
      i.toLong * 6L, i.toLong * 6L + 11L))

  def q350_histogram_bakeoff(spark: SparkSession, dir: String): DataFrame = {
    val cellW = 1000000L // $10k in cents
    val nB = 8L
    val cells = Tables.orders(spark, dir)
      .select(expr(s"CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
        s" AS BIGINT) div $cellW").as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).cast("long").as("cnt"))
      .localCheckpoint(true)
    val bounds = cells.agg(min(col("cell")).as("minc"),
      max(col("cell")).as("maxc"), sum(col("cnt")).cast("long").as("total"))
    val base = cells.crossJoin(broadcast(bounds))
    // equi-width: bucket by cell index span
    val ew = base.withColumn("bkt",
      expr(s"((cell - minc) * $nB) div (maxc - minc + 1)"))
    // equi-depth: bucket by integer cumulative rank (cells stay whole)
    val ed = base.withColumn("cumb",
        coalesce(sum(col("cnt")).over(Window.orderBy(col("cell"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bkt", expr(s"least((cumb * $nB) div total, ${nB - 1})"))
    // maxdiff: boundaries at the 7 largest |Δcnt| between adjacent cells
    val diffs = base.withColumn("prev",
        lag(col("cnt"), 1).over(Window.orderBy(col("cell"))))
      .filter(col("prev").isNotNull)
      .withColumn("ad", abs(col("cnt") - col("prev")))
    val cuts = broadcast(diffs
      .orderBy(col("ad").desc, col("cell").asc)
      .limit((nB - 1).toInt).select(col("cell").as("cut")))
    val md = base.join(cuts.groupBy().agg(collect_list(col("cut"))
        .as("cutList")))
      .withColumn("bkt", size(filter(col("cutList"),
        c => c <= col("cell"))).cast("long"))
    // shared audit: bucket stats -> uniform-interpolation estimates
    val preds = broadcast(spark.createDataFrame(histBakeoffPreds)
      .toDF("pred", "plo", "phi"))
    // ALL sums are order-free integers: per-bucket estimate terms are
    // (ov·bcnt·10⁶) div width micro-units, per-pred errors are floored
    // micro-units — no double ever rides an aggregation.
    def audit(h: DataFrame, name: String): DataFrame = {
      val bstats = h.groupBy(col("bkt"))
        .agg(min(col("cell")).as("bmin"), max(col("cell")).as("bmax"),
          sum(col("cnt")).cast("long").as("bcnt"))
      val est = bstats.crossJoin(preds)
        .withColumn("ov", greatest(lit(0L),
          least(col("phi"), col("bmax")) -
            greatest(col("plo"), col("bmin")) + 1L))
        .groupBy(col("pred"))
        .agg(sum(expr("(ov * bcnt * 1000000) div (bmax - bmin + 1)"))
          .cast("long").as("est_micro"))
      val exact = cells.crossJoin(preds)
        .filter(col("cell") >= col("plo") && col("cell") <= col("phi"))
        .groupBy(col("pred"))
        .agg(sum(col("cnt")).cast("long").as("exact"))
      preds.select(col("pred")).join(est, Seq("pred"), "left")
        .join(exact, Seq("pred"), "left")
        .select(col("pred"),
          coalesce(col("est_micro"), lit(0L)).as("est_micro"),
          coalesce(col("exact"), lit(0L)).as("exact"))
        .withColumn("relerr_micro", floor(
          abs(col("est_micro").cast("double") / 1000000.0 -
            col("exact").cast("double")) /
          greatest(col("exact").cast("double"), lit(1.0)) * 1000000.0)
          .cast("long"))
        .agg(count(lit(1)).cast("long").as("n_preds"),
          sum(col("relerr_micro")).cast("long").as("err_sum"),
          max(col("relerr_micro")).cast("long").as("err_max"))
        .select(lit(name).as("histogram"), col("n_preds"),
          round(col("err_sum").cast("double") /
            (col("n_preds").cast("double") * 1000000.0), 4)
            .as("mean_rel_err"),
          round(col("err_max").cast("double") / 1000000.0, 4)
            .as("max_rel_err"))
    }
    audit(ew, "equi_width").unionByName(audit(ed, "equi_depth"))
      .unionByName(audit(md, "maxdiff"))
      .orderBy(col("histogram"))
  }

  /** Markov removal-effect attribution (Anderl et al. 2014) — the
    * channel-attribution model that beats last-touch (q147) and
    * complements Shapley (q220): user event paths up to first purchase
    * become a Markov chain (START → … → purchase | null), conversion
    * probability is 12 unrolled integer micro-unit iterations (Σ T·p
    * then one floor-div per state — order-free, bit-portable), and each
    * channel's removal effect is the conversion drop when transitions
    * INTO it are deleted. Shares normalize the effects. The distributed
    * work is the per-user path → transition-count aggregate; the chain
    * itself is a ≤7-state bounded grain evaluated with exact integer
    * math driver-side, mirrored by the oracle's unrolled SQL rounds. */
  def q351_markov_attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("fp", min(when(col("event_type") === "purchase",
        col("rn"))).over(Window.partitionBy(col("user_id"))))
    val kept = ev.filter(col("fp").isNull || col("rn") <= col("fp"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
    val trans = kept.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("src"),
        coalesce(col("nxt"), lit("null")).as("dst"))
      .unionByName(kept.filter(col("rn") === 1)
        .select(lit("START").as("src"), col("event_type").as("dst")))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .collect() // bounded: ≤ 7×7 transition cells
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outN = trans.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
    val tMic = trans.map { case (s, t, c) => (s, t, c * 1000000L / outN(s)) }
    val states = (trans.map(_._1) ++ Seq("purchase")).distinct.sorted
    def converge(removed: Option[String]): Long = {
      val tt = removed.fold(tMic)(c => tMic.filter(_._2 != c))
      var p = states.map(s =>
        s -> (if (s == "purchase") 1000000L else 0L)).toMap
      for (_ <- 1 to 12) {
        p = states.map { s =>
          s -> (if (s == "purchase") 1000000L
          else tt.filter(_._1 == s)
            .map { case (_, t, m) => m * p.getOrElse(t, 0L) }
            .sum / 1000000L)
        }.toMap
      }
      p.getOrElse("START", 0L)
    }
    val base = converge(None)
    val channels = states.filter(s => s != "purchase" && s != "START")
    val effects = channels.map { c =>
      val pc = converge(Some(c))
      val eff = if (base == 0) 0.0
        else (base - pc).toDouble / base.toDouble
      (c, pc, eff)
    }
    // shares as exact integer ratios: the /base factor cancels, so
    // share = (base − pc) / Σ(base − pc) — no double summation anywhere
    val dropSum = effects.map { case (_, pc, _) => base - pc }.sum
    val rows = effects.map { case (c, pc, eff) =>
      (c, base, pc,
        BigDecimal(eff).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble,
        BigDecimal(if (dropSum == 0L) 0.0
          else (base - pc).toDouble / dropSum.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    spark.createDataFrame(rows)
      .toDF("channel", "p_base_micro", "p_removed_micro",
        "removal_effect", "attribution_share")
      .orderBy(col("channel"))
  }

  /** Cache-policy replay advisor — LRU vs FIFO hit rates at two cache
    * sizes, replayed over each supplier's part-access stream (lineitem
    * in order, first 512 accesses per supplier — the bounded replay
    * sample a buffer-pool/shuffle-fetch-cache decision needs). Each
    * (policy, size) is ONE codegen HOF fold per supplier (state =
    * recency/arrival queue + hit counter, pure array ops), suppliers
    * fold in parallel, and hits aggregate as integers. The oracle
    * replays the identical recurrence as recursive CTEs. Scale shape:
    * per-key sequential replay is the algorithm's nature; the bound is
    * the per-key sample, the parallelism is across keys. */
  def q352_cache_replay(spark: SparkSession, dir: String): DataFrame = {
    val configs = Seq(("lru", 4), ("lru", 16), ("fifo", 4), ("fifo", 16))
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    val acc = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 512)
      .groupBy(col("l_suppkey"))
      .agg(expr("sort_array(collect_list(struct(l_orderkey," +
        " l_linenumber, l_partkey)))").as("st"))
      .select(col("l_suppkey"),
        expr("transform(st, e -> e.l_partkey)").as("accs"))
      .localCheckpoint(true)
    def fold(policy: String, cap: Int): String = {
      val onHit =
        if (policy == "lru")
          s"named_struct('q', concat(array(x), filter(st.q," +
            s" e -> e != x)), 'h', st.h + CAST(1 AS BIGINT))"
        else s"named_struct('q', st.q, 'h', st.h + CAST(1 AS BIGINT))"
      s"""aggregate(accs,
         |  named_struct('q', CAST(array() AS ARRAY<BIGINT>),
         |    'h', CAST(0 AS BIGINT)),
         |  (st, x) -> IF(array_contains(st.q, x), $onHit,
         |    named_struct('q', slice(concat(array(x), st.q), 1, $cap),
         |      'h', st.h)),
         |  st -> st.h)""".stripMargin
    }
    configs.map { case (p, c) =>
      acc.select(size(col("accs")).cast("long").as("n"),
          expr(fold(p, c)).as("hits"))
        .agg(sum(col("n")).cast("long").as("n_accesses"),
          sum(col("hits")).cast("long").as("hits"))
        .select(lit(p).as("policy"), lit(c.toLong).as("cache_size"),
          col("n_accesses"), col("hits"),
          round(col("hits").cast("double") /
            col("n_accesses").cast("double"), 6).as("hit_rate"))
    }.reduce(_ unionByName _)
      .orderBy(col("policy"), col("cache_size"))
  }

  /** Stream-stream join state-size advisor — the memory number behind
    * an interval join's time bound: for each candidate bound T, the
    * concurrent state (events retained within the trailing T window) is
    * replayed exactly with a +1/−1 sweep — (arrival, +1) and
    * (arrival+T, −1) points, expiry-before-admission tie order, running
    * sum — reporting peak and average state. The running sum is
    * associative, so it runs blockwise + prefix over the bounded block
    * grain (the q343 pattern); arrivals reuse the deterministic jitter
    * replay. All integers. */
  def q353_join_state_advisor(spark: SparkSession, dir: String): DataFrame = {
    val bounds = Seq(60L, 600L, 3600L) // seconds
    val arr = Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("arrival", col("tus") +
        element_at(graft.functions.MinHashSig
          .minhashSig(array(col("event_id").cast("string")), 1), 1)
          % 120000000L)
      .select(col("event_id"), col("arrival"))
      .localCheckpoint(true)
    bounds.map { t =>
      val pts = arr.select(col("arrival").as("pt"), lit(1L).as("d"),
          col("event_id"))
        .unionByName(arr.select((col("arrival") + t * 1000000L).as("pt"),
          lit(-1L).as("d"), col("event_id")))
        .withColumn("blk", expr("pt div 600000000"))
      val wIn = Window.partitionBy(col("blk"))
        .orderBy(col("pt"), col("d"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blkSum = pts.groupBy(col("blk"))
        .agg(sum(col("d")).cast("long").as("bs"))
        .withColumn("ps", coalesce(
          sum(col("bs")).over(Window.orderBy(col("blk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("blk"), col("ps"))
      pts.withColumn("run_in", sum(col("d")).over(wIn))
        .join(broadcast(blkSum), "blk")
        .withColumn("state", col("run_in") + col("ps"))
        .filter(col("d") === 1L)
        .agg(count(lit(1)).cast("long").as("n_events"),
          max(col("state")).cast("long").as("peak_state"),
          sum(col("state")).cast("long").as("state_sum"))
        .select(lit(t).as("bound_s"), col("n_events"), col("peak_state"),
          round(col("state_sum").cast("double") /
            col("n_events").cast("double"), 4).as("avg_state"))
    }.reduce(_ unionByName _).orderBy(col("bound_s"))
  }

  /** Roaring-bitmap container advisor (Chambi et al. 2016) — the
    * per-chunk array/bitmap/run decision that makes compressed postings
    * work, applied to per-segment orderkey posting lists on a
    * 4096-value chunk universe: array costs 2n bytes, bitmap a flat
    * 512, run 4·runs+2 (runs counted exactly via presence of the
    * predecessor integer) — each chunk takes its minimum, and the
    * report compares roaring bytes against array-only, bitmap-only and
    * raw-int encodings. Pure integer arithmetic. Scale shape: one
    * sorted-adjacency pass per (segment, chunk) partition — the chunk
    * grain is value-domain bounded, never corpus bounded. */
  def q354_roaring_advisor(spark: SparkSession, dir: String): DataFrame = {
    val u = 4096L
    val posts = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("o_orderkey").as("k")).distinct()
      .withColumn("chunk", expr(s"k div $u"))
    val wc = Window.partitionBy(col("segment"), col("chunk"))
      .orderBy(col("k"))
    val chunks = posts
      .withColumn("prev", lag(col("k"), 1).over(wc))
      .withColumn("runStart",
        when(col("prev").isNull || col("prev") =!= col("k") - 1, 1L)
          .otherwise(0L))
      .groupBy(col("segment"), col("chunk"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("runStart")).cast("long").as("runs"))
      .withColumn("c_array", col("n") * 2L)
      .withColumn("c_bitmap", lit(u / 8L))
      .withColumn("c_run", col("runs") * 4L + 2L)
      .withColumn("best", least(col("c_array"), col("c_bitmap"),
        col("c_run")))
      .withColumn("ctype",
        when(col("c_run") <= col("c_array") &&
          col("c_run") <= col("c_bitmap"), "run")
          .when(col("c_array") <= col("c_bitmap"), "array")
          .otherwise("bitmap"))
    chunks.groupBy(col("segment"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(col("n")).cast("long").as("n_values"),
        sum(col("best")).cast("long").as("bytes_roaring"),
        sum(col("c_array")).cast("long").as("bytes_array_only"),
        sum(col("c_bitmap")).cast("long").as("bytes_bitmap_only"),
        sum(when(col("ctype") === "run", 1L).otherwise(0L)).cast("long")
          .as("n_run_containers"),
        sum(when(col("ctype") === "array", 1L).otherwise(0L)).cast("long")
          .as("n_array_containers"))
      .withColumn("bytes_raw", col("n_values") * 4L)
      .withColumn("compression",
        round(col("bytes_raw").cast("double") /
          col("bytes_roaring").cast("double"), 4))
      .orderBy(col("segment"))
  }

  /** Learned-index feasibility audit (Kraska SIGMOD'18 / PGM-index) —
    * how learnable is the key→rank CDF: distinct price-cents keys get
    * dense ranks, 256-key segments interpolate linearly between their
    * endpoint (key, rank) pairs, and ε = max |predicted − actual rank|
    * per segment is the search-window a learned index would need (vs
    * the fixed fanout a B-tree pays regardless). Per-row predictions
    * are single IEEE expressions; segment maxima are order-free; the
    * mean of per-segment maxima rides as floored micro-units. Scale
    * shape: the grain is DISTINCT key values — value-domain bounded —
    * and everything is one window pass plus a segment aggregate. */
  def q355_learned_index_audit(spark: SparkSession, dir: String): DataFrame = {
    val segLen = 256L
    val keys = graft.transform.PrefixSum.rowNumber(
        Tables.orders(spark, dir)
          .select((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("k"))
          .distinct(),
        Nil, Seq(col("k")), "rn1")
      .withColumn("r", col("rn1") - 1).drop("rn1")
      .withColumn("seg", expr(s"r div $segLen"))
      .localCheckpoint(true)
    val ends = keys.groupBy(col("seg"))
      .agg(min(col("k")).as("k0"), max(col("k")).as("k1"),
        min(col("r")).as("r0"), max(col("r")).as("r1"))
    val eps = keys.join(broadcast(ends), "seg")
      .withColumn("pred", when(col("k1") === col("k0"),
        col("r0").cast("double"))
        .otherwise(col("r0").cast("double") +
          (col("k") - col("k0")).cast("double") *
          (col("r1") - col("r0")).cast("double") /
          (col("k1") - col("k0")).cast("double")))
      .withColumn("err", abs(col("pred") - col("r").cast("double")))
      .groupBy(col("seg"))
      .agg(max(col("err")).as("seg_eps"),
        count(lit(1)).cast("long").as("seg_n"))
    eps.agg(sum(col("seg_n")).cast("long").as("n_keys"),
        count(lit(1)).cast("long").as("n_segments"),
        max(col("seg_eps")).as("max_eps_d"),
        sum(floor(col("seg_eps") * 1000000.0).cast("long")).cast("long")
          .as("eps_micro_sum"),
        sum(when(col("seg_eps") <= 8.0, 1L).otherwise(0L)).cast("long")
          .as("n_small_eps"))
      .select(col("n_keys"), col("n_segments"),
        round(col("max_eps_d"), 4).as("max_eps"),
        round(col("eps_micro_sum").cast("double") /
          (col("n_segments").cast("double") * 1000000.0), 4)
          .as("mean_seg_eps"),
        round(col("n_small_eps").cast("double") /
          col("n_segments").cast("double"), 6).as("frac_eps_le_8"))
  }

  /** Clip temporal alignment — the audio/video "is B a shifted clip of
    * A" primitive (Wang'03 constellation voting, frame-hash form): for
    * candidate media pairs sharing rare frame hashes (≤100 media per
    * hash — the q330 cap — and ≤4 positions per media, the
    * distinctive-peak rule), every co-occurrence votes for offset
    * idx_a − idx_b; the winning offset and its vote share quantify the
    * alignment. Pairs need ≥8 top-offset votes to report. All integer
    * positions/counts. Scale shape: shuffles carry (hash, id, idx);
    * votes aggregate on the candidate-pair grain; payload bytes never
    * leave their executor. PlanSpec plants a shifted clip and recovers
    * its exact offset. */
  def q356_clip_alignment(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.packBinary(
      Tables.documents(spark, dir), "doc_id", "text", "video", "source")
    val frames = Multimodal.sampleFrames(media, "payload",
        frameBytes = 16, stride = 1)
      .select(col("media_id"), col("frame_idx").cast("long").as("idx"),
        md5(col("frame")).as("fh"))
      .distinct()
      .localCheckpoint(true)
    val rare = frames
      .join(frames.groupBy(col("fh"))
        .agg(countDistinct(col("media_id")).as("dfm"),
          count(lit(1)).cast("long").as("occ"))
        .filter(col("dfm") <= 100), "fh")
      .join(frames.groupBy(col("fh"), col("media_id"))
        .agg(count(lit(1)).cast("long").as("perMedia"))
        .filter(col("perMedia") <= 4)
        .select(col("fh"), col("media_id")), Seq("fh", "media_id"))
      .select(col("media_id"), col("idx"), col("fh"))
    val votes = rare.select(col("media_id").as("a"), col("idx").as("ia"),
        col("fh"))
      .join(rare.select(col("media_id").as("b"), col("idx").as("ib"),
        col("fh")), "fh")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), (col("ia") - col("ib")).as("offset"))
      .agg(count(lit(1)).cast("long").as("v"))
    val w = Window.partitionBy(col("a"), col("b"))
      .orderBy(col("v").desc, col("offset").asc)
    votes
      .withColumn("rn", row_number().over(w))
      .withColumn("total", sum(col("v")).over(
        Window.partitionBy(col("a"), col("b"))))
      .filter(col("rn") === 1 && col("v") >= 8)
      .select(col("a"), col("b"), col("offset"), col("v").as("votes"),
        col("total").cast("long").as("total_votes"),
        round(col("v").cast("double") / col("total").cast("double"), 6)
          .as("align_share"))
      .orderBy(col("a"), col("b"))
  }

  /** Sequence-packing trade-off audit — the two ways training runs fill
    * fixed 512-token windows, quantified against each other per source:
    * greedy FFD packing (q333's fold, whole documents per bin) pays
    * PADDING but never splits a document; concat-and-split pays ZERO
    * padding but cuts documents at window boundaries (attention
    * contamination + truncated docs). Reported per source: FFD bins and
    * pad fraction vs concat windows, boundary-crossing count, and the
    * fraction of documents damaged by a cut. Crossings come from exact
    * integer prefix sums of doc lengths in doc_id order via the
    * range-partitioned [[graft.transform.PrefixSum]]. All integer token
    * counts (n_chars as the token proxy). */
  def q357_packing_tradeoff(spark: SparkSession, dir: String): DataFrame = {
    val win = 512L
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars").cast("long")
        .as("len"))
    // concat-and-split: exact prefix sums per source in doc_id order —
    // PrefixSum, because a source's document stream is unbounded and a
    // per-source window would funnel a whole crawl through one task
    val concat = graft.transform.PrefixSum.groupedRunningAggs(docs,
        Seq("source"), Seq(col("doc_id")), Seq("len" -> "end"))
      .withColumn("start", col("end") - col("len"))
      // a doc is cut iff a window boundary falls strictly inside it
      .withColumn("cut",
        when(expr(s"(end - 1) div $win") > expr(s"start div $win"), 1L)
          .otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("len")).cast("long").as("total_tokens"),
        sum(col("cut")).cast("long").as("docs_cut"),
        sum(expr(s"(end - 1) div $win - start div $win")).cast("long")
          .as("n_crossings"))
      .withColumn("concat_windows",
        expr(s"(total_tokens + $win - 1) div $win"))
    // FFD packing: oversized docs take len div 512 full windows plus a
    // packable remainder piece; q333's fold packs the pieces
    val ffd = docs
      .withColumn("fullw", expr(s"len div $win"))
      .withColumn("piece", expr(s"len % $win"))
      .groupBy(col("source"))
      .agg(sum(col("fullw")).cast("long").as("full_bins"),
        sort_array(collect_list(when(col("piece") > 0, col("piece"))),
          asc = false).as("sizes"))
      .selectExpr("source", "full_bins",
        s"""aggregate(sizes, CAST(array() AS ARRAY<BIGINT>),
              (bins, sz) -> IF(
                array_position(transform(bins, r -> r >= sz), true) > 0,
                zip_with(bins, sequence(1L, CAST(size(bins) AS BIGINT)),
                  (r, i) -> IF(i = array_position(
                    transform(bins, r2 -> r2 >= sz), true), r - sz, r)),
                array_append(bins, $win - sz))) AS residuals""")
      .selectExpr("source",
        "full_bins + CAST(size(residuals) AS BIGINT) AS ffd_bins",
        "CAST(aggregate(residuals, CAST(0 AS BIGINT), (a, r) -> a + r)" +
          " AS BIGINT) AS pad_tokens")
    concat.join(ffd, "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("ffd_bins"), col("pad_tokens"),
        round(col("pad_tokens").cast("double") /
          (col("ffd_bins") * win).cast("double"), 6).as("ffd_pad_frac"),
        col("concat_windows"), col("n_crossings"), col("docs_cut"),
        round(col("docs_cut").cast("double") /
          col("n_docs").cast("double"), 6).as("cut_frac"))
      .orderBy(col("source"))
  }

  /** AQE skew-split simulation — Spark's OptimizeSkewedJoin rule
    * (split a shuffle partition when its load exceeds 5× the median,
    * into ⌈load/median⌉ chunks) replayed exactly over three key
    * scenarios: the uniform l_suppkey shuffle, the low-cardinality
    * l_quantity shuffle, and a 30%-hot planted key — so the report
    * shows both "no split needed" on healthy keys and the rebalance
    * arithmetic on a genuinely skewed one. Partitions use the portable
    * md5 hash mod 32 (the model's hash, not Murmur); every load,
    * median (lower order statistic on the bounded partition grain),
    * chunk count and balance ratio is integer-exact. */
  def q358_aqe_skew_sim(spark: SparkSession, dir: String): DataFrame = {
    val nPart = 32L
    def h(c: Column): Column = element_at(graft.functions.MinHashSig
      .minhashSig(array(c.cast("string")), 1), 1)
    val li = Tables.lineitem(spark, dir)
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), h(col("event_id")).as("eh"))
    val scen = Seq(
      ("uniform_suppkey", li.select(h(col("l_suppkey")).as("kh"))),
      ("lowcard_quantity",
        li.select(h(col("l_quantity").cast("long")).as("kh"))),
      ("planted_hot", ev.select(
        when(col("eh") % 10 < 3, h(lit(0L))).otherwise(col("eh"))
          .as("kh"))))
    scen.map { case (name, keys) =>
      val loads = keys.select(pmod(col("kh"), lit(nPart)).as("p"))
        .groupBy(col("p")).agg(count(lit(1)).cast("long").as("load"))
        .localCheckpoint(true)
      // median = lower order statistic over the ≤32 non-empty loads
      val med = loads
        .withColumn("rn", row_number().over(
          Window.orderBy(col("load"), col("p"))))
        .crossJoin(broadcast(loads.agg(count(lit(1)).cast("long")
          .as("np"), sum(col("load")).cast("long").as("total"))))
        .filter(col("rn") === expr("(np + 1) div 2"))
        .select(col("load").as("median"), col("np"), col("total"))
      loads.crossJoin(broadcast(med))
        .withColumn("skewed", col("load") > col("median") * 5L)
        .withColumn("k", when(col("skewed"),
          expr("(load + median - 1) div median")).otherwise(1L))
        .withColumn("chunk", expr("(load + k - 1) div k"))
        .agg(max(col("np")).as("n_nonempty"),
          max(col("median")).as("median_load"),
          max(col("load")).cast("long").as("max_before"),
          sum(when(col("skewed"), 1L).otherwise(0L)).cast("long")
            .as("n_skewed"),
          max(col("chunk")).cast("long").as("max_after"),
          sum(col("k")).cast("long").as("n_after"),
          max(col("total")).as("total"))
        .select(lit(name).as("scenario"), col("n_nonempty"),
          col("median_load"), col("max_before"), col("n_skewed"),
          col("max_after"), col("n_after"),
          round(col("max_before").cast("double") * col("n_nonempty")
            .cast("double") / col("total").cast("double"), 4)
            .as("balance_before"),
          round(col("max_after").cast("double") * col("n_after")
            .cast("double") / col("total").cast("double"), 4)
            .as("balance_after"))
    }.reduce(_ unionByName _).orderBy(col("scenario"))
  }

  /** Join-order enumeration with EXACT intermediates — the CBO decision
    * on the filtered chain σ(lineitem) ⋈ σ(orders) ⋈ σ(customer)
    * (ship ≥ 1997, BUILDING segment): both linear orders' intermediate
    * cardinalities are measured, cost = intermediate rows (the classic
    * Selinger objective), and the cheaper order is named. Also reports
    * each filter's selectivity — the inputs a real optimizer estimates,
    * here exact. All integer counts. Scale shape: three filtered
    * counts + two join counts, each one aggregate. */
  def q359_join_order(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >=
        lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      .select(col("l_orderkey"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val lo = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).cast("long").as("n_lo"))
    val oc = ord.join(cust, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).cast("long").as("n_oc"))
    val loc = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).cast("long").as("n_final"))
    val sizes = li.agg(count(lit(1)).cast("long").as("n_li"))
      .crossJoin(ord.agg(count(lit(1)).cast("long").as("n_ord")))
      .crossJoin(cust.agg(count(lit(1)).cast("long").as("n_cust")))
    sizes.crossJoin(broadcast(lo)).crossJoin(broadcast(oc))
      .crossJoin(broadcast(loc))
      .select(col("n_li"), col("n_ord"), col("n_cust"),
        col("n_lo").as("inter_lo_first"),
        col("n_oc").as("inter_oc_first"), col("n_final"),
        when(col("n_lo") <= col("n_oc"), "(lineitem_orders)_customer")
          .otherwise("lineitem_(orders_customer)").as("recommended"),
        round(abs(col("n_lo") - col("n_oc")).cast("double") /
          greatest(least(col("n_lo"), col("n_oc")), lit(1L))
            .cast("double"), 4).as("cost_gap_ratio"))
  }

  /** Partial-aggregation benefit advisor — Spark's runtime
    * skip-partial-aggregation call, measured ahead of time: for three
    * candidate groupings (low-cardinality supplier, near-unique
    * orderkey×linenumber, calendar month), the map-side reduction each
    * shuffle block (2000-orderkey ranges) would achieve — Σ per-block
    * distinct keys / Σ rows — and the skip recommendation when the
    * ratio clears 0.8 (combining buys <20%). All integer counts.
    * Scale shape: one (block, key)-distinct aggregate per grouping. */
  def q360_partial_agg_advisor(spark: SparkSession,
                               dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("blk", expr("l_orderkey div 2000"))
    val groupings = Seq(
      ("suppkey", li.select(col("blk"), col("l_suppkey").as("k"))),
      ("order_line", li.select(col("blk"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("k"))),
      ("ship_month", li.select(col("blk"),
        expr("CAST(date_format(l_shipdate, 'yyyyMM') AS BIGINT)")
          .as("k"))))
    groupings.map { case (name, df) =>
      df.groupBy(col("blk"))
        .agg(count(lit(1)).cast("long").as("rows"),
          countDistinct(col("k")).cast("long").as("keys"))
        .agg(count(lit(1)).cast("long").as("n_blocks"),
          sum(col("rows")).cast("long").as("n_rows"),
          sum(col("keys")).cast("long").as("shuffled_after_partial"))
        .select(lit(name).as("grouping"), col("n_blocks"), col("n_rows"),
          col("shuffled_after_partial"),
          round(col("shuffled_after_partial").cast("double") /
            col("n_rows").cast("double"), 6).as("reduction_ratio"),
          (col("shuffled_after_partial") * 10L >
            col("n_rows") * 8L).as("skip_partial"))
    }.reduce(_ unionByName _).orderBy(col("grouping"))
  }

  /** Presortedness audit (Knuth runs / Timsort cost) — is the table
    * already nearly sorted in storage order, i.e. can the sort before a
    * sorted write be skipped or merged cheaply: for three (order, value)
    * sequences, the count of maximal nondecreasing runs (1 + descents),
    * the adjacent-sorted fraction, and the k-way merge passes
    * ⌈log₂(runs)⌉ a Timsort-style writer would pay. Descents are an
    * adjacent-pair census: within-block windows plus the bounded
    * block-boundary pairs — never one global window. All integers (bit
    * length via bin()). */
  def q361_sortedness_audit(spark: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, ord: Column, value: Column,
              name: String): DataFrame = {
      val base = df.select(ord.as("o"), value.as("v"))
        .withColumn("blk", expr("o div 4096"))
      // composite (o, v) order: duplicate storage keys tie-break on the
      // value so the adjacent census is deterministic in both engines
      val wB = Window.partitionBy(col("blk")).orderBy(col("o"), col("v"))
      val within = base
        .withColumn("pv", lag(col("v"), 1).over(wB))
        .filter(col("pv").isNotNull)
        .agg(count(lit(1)).cast("long").as("n_adj_w"),
          sum(when(col("v") < col("pv"), 1L).otherwise(0L)).cast("long")
            .as("desc_w"))
      val edges = base.groupBy(col("blk"))
        .agg(min_by(col("v"), struct(col("o"), col("v"))).as("firstv"),
          max_by(col("v"), struct(col("o"), col("v"))).as("lastv"))
      val boundary = edges
        .join(edges.select((col("blk") - 1).as("blk"),
          col("firstv").as("nextFirst")), "blk")
        .agg(count(lit(1)).cast("long").as("n_adj_b"),
          coalesce(sum(when(col("nextFirst") < col("lastv"), 1L)
            .otherwise(0L)), lit(0L)).cast("long").as("desc_b"))
      val n = base.agg(count(lit(1)).cast("long").as("n"))
      n.crossJoin(broadcast(within)).crossJoin(broadcast(boundary))
        .select(lit(name).as("sequence"), col("n"),
          (col("desc_w") + col("desc_b") + 1L).as("n_runs"),
          round(lit(1.0) - (col("desc_w") + col("desc_b")).cast("double") /
            (col("n_adj_w") + col("n_adj_b")).cast("double"), 6)
            .as("sorted_frac"))
        .withColumn("merge_passes",
          when(col("n_runs") === 1L, 0L)
            .otherwise(length(bin(col("n_runs") - 1)).cast("long")))
    }
    val ords = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    audit(ords, col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        "orders_price")
      .unionByName(audit(ords, col("o_orderkey"),
        unix_micros(col("o_orderdate")), "orders_date"))
      .unionByName(audit(
        li.select((col("l_orderkey") * 10 + col("l_linenumber")).as("seq"),
          unix_micros(col("l_shipdate")).as("sd")),
        col("seq"), col("sd"), "lineitem_shipdate"))
      .orderBy(col("sequence"))
  }

  /** Q-digest quantile-sketch accuracy gate (the deterministic member of
    * the sketch family — q335 HLL / q217 KMV / q108 CMS / q306 AMS):
    * sketch lineitem prices-in-cents with [[graft.functions.QDigest]]
    * (one scan, ≤~3k-node partial aggregates across the shuffle), read
    * five quantiles off the merged digest, then measure each estimate's
    * EXACT rank in a second one-pass aggregate and gate |rank − target|
    * against the L·(n/k) q-digest bound plus the sketch-size cap. The
    * oracle pins n_rows to the table count (ties the sketch's n to data)
    * and the gates to true — any compression bug that over-coarsens
    * nodes breaks rank_ok, any that under-compresses breaks size_ok.
    *
    * Both collects are bounded: the merged digest (≤3k+L nodes) and two
    * 1-row aggregate heads — the q38-IVF bounded-collect class. */
  def q366_qdigest_quantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QDigest
    import spark.implicits._
    // fan + pin: the sketch insert kernel otherwise runs in the 1-task
    // scan stage, and the rank pass re-scans lineitem (guide §2.5/§1.2);
    // the q-digest rank/size bounds hold for ANY merge shape, so 32-way
    // partials change nothing the oracle checks
    val cents = Tables.fan(Tables.lineitem(spark, dir)
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("v")))
      .localCheckpoint(true)
    val digest = cents.agg(QDigest.sketch(col("v")).as("d")).head().getStruct(0)
    val n = digest.getLong(0)
    val nodes = digest.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    val targets = Seq(1L, 25L, 50L, 75L, 99L)
    val ests = targets.map(p => p -> QDigest.quantile(nodes, n, p / 100.0)).toMap
    val rankAggs = targets.map(p =>
      sum(when(col("v") <= ests(p), 1L).otherwise(0L)).cast("long").as(s"r$p"))
    val ranks = cents.agg(rankAggs.head, rankAggs.tail: _*).head()
    val bound = QDigest.rankBound(n)
    val sizeOk = nodes.size <= 3 * QDigest.K + QDigest.L
    targets.zipWithIndex.map { case (p, i) =>
      val target = math.max(1L, math.ceil(p / 100.0 * n).toLong)
      (p, n, sizeOk, math.abs(ranks.getLong(i) - target) <= bound)
    }.toDF("q_pct", "n_rows", "size_ok", "rank_ok").orderBy(col("q_pct"))
  }

  /** ALS matrix factorization (implicit customer×part quantity ratings,
    * rank 2, ridge λ=0.1, two unrolled iterations) — the model-based
    * recommender counterpart of q283's neighborhood item-CF. Each half-
    * iteration is the closed-form 2×2 ridge solve per key: one equi-join
    * of the ratings to the other side's factor table plus one combinable
    * aggregate building the normal equations (ΣqqT, Σqr) in EXACT
    * decimals; the division happens once per key in doubles and the
    * result is nano-quantized (floor(x·1e9+0.5)) back into decimals, so
    * every number either engine touches is either an exact decimal or a
    * double derived from identical exact decimals by identical IEEE ops
    * — the oracle replays all four solves and both SSE evaluations as
    * CTEs and must match bit-for-bit. SSE is reported in squared
    * milli-units (exact BIGINT).
    *
    * Scale shape: per iteration two shuffles of the ratings relation
    * (by user, by item) — the canonical distributed-ALS cost — plus
    * factor tables of #users/#items rows that AQE broadcasts; rank is a
    * constant so the normal-equation payload is O(k²)=O(1) per row.
    * Nothing collects; iterations are data-independent plan unrolls. */
  def q368_als_factorization(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Als
    val ratings = alsRatings(spark, dir)
    val qInit = Als.initFactors(ratings.select(col("i")).distinct(), "i")
    val p1 = Als.solve(ratings, "i", "u", qInit)
    val qa = Als.solve(ratings, "u", "i", p1)
    val p2 = Als.solve(ratings, "i", "u", qa)
    val qb = Als.solve(ratings, "u", "i", p2)
    val counts = ratings.agg(
      countDistinct(col("u")).cast("long").as("n_users"),
      countDistinct(col("i")).cast("long").as("n_items"))
    Als.sseMilli2(ratings, p1, qa).select(lit(1L).as("iter"), col("sse_m2"))
      .unionByName(
        Als.sseMilli2(ratings, p2, qb).select(lit(2L).as("iter"), col("sse_m2")))
      .crossJoin(broadcast(counts))
      .select(col("iter"), col("n_users"), col("n_items"), col("sse_m2"))
      .orderBy(col("iter"))
  }

  /** Implicit customer×part quantity ratings shared by q368/q372. */
  private def alsRatings(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .agg(sum(col("l_quantity").cast("long")).cast("decimal(9,0)").as("r"))

  /** ALS FOLD-IN — the serving path that makes q368 deployable: new
    * users (the held-out StableHash 20% of customers) get factors from
    * ONE closed-form solve against the FROZEN trained item factors — no
    * retraining, cost O(|new ratings|) — exactly how a production
    * recommender onboards users between training runs. Ratings on items
    * unseen in training are unservable and drop out of the inner joins
    * (the cold-start boundary, made explicit by n_ratings). The oracle
    * replays training AND the fold-in solve, so the frozen-factor
    * contract (fold-in must not perturb item factors) is what's gated:
    * any leakage of held-out data into training shifts every cell.
    *
    * Scale shape: training touches only the 80% split; fold-in is one
    * delta-sized equi-join + aggregate — the q365-IVM cost model applied
    * to model serving. */
  def q372_als_foldin(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableHash
    import graft.similarity.Als
    val ratings = alsRatings(spark, dir)
      .withColumn("is_train", StableHash.bucket(col("u"), 1000) < 800)
    val train = ratings.filter(col("is_train")).drop("is_train")
    val hold = ratings.filter(!col("is_train")).drop("is_train")
    val qInit = Als.initFactors(train.select(col("i")).distinct(), "i")
    val p1 = Als.solve(train, "i", "u", qInit)
    val qa = Als.solve(train, "u", "i", p1)
    val p2 = Als.solve(train, "i", "u", qa)
    val qb = Als.solve(train, "u", "i", p2)
    val foldP = Als.solve(hold, "i", "u", qb)
    def cohort(name: String, rats: DataFrame, p: DataFrame): DataFrame = {
      val servable = rats.join(qb.select(col("i")), Seq("i"), "left_semi")
      Als.sseMilli2(rats, p, qb).crossJoin(broadcast(
          servable.agg(countDistinct(col("u")).cast("long").as("n_users"),
            count(lit(1)).cast("long").as("n_ratings"))))
        .select(lit(name).as("cohort"), col("n_users"), col("n_ratings"),
          col("sse_m2"))
    }
    cohort("foldin", hold, foldP)
      .unionByName(cohort("train", train, p2))
      .orderBy(col("cohort"))
  }

  /** Greedy cube-view materialization advisor (Harinarayan–Rajaraman–
    * Ullman): over the 3-dim lattice (returnflag, linestatus,
    * ship-month) with every view's cost = its exact group count
    * (measured in ONE cube pass — grouping_id rows counted per set, no
    * 8 separate scans), pick the two views whose materialization saves
    * the most rows across the 8-subset workload, re-pricing benefits
    * after each pick the way the greedy algorithm requires. Row 0
    * carries all 8 measured costs; rows 1–2 carry the picks and their
    * exact benefits, so the oracle (same costs via GROUPING SETS, same
    * greedy unrolled through CTEs over a literal subset lattice) gates
    * both the measurement and the decision. The follow-through for the
    * picked views is q365's incremental maintenance.
    *
    * Scale shape: one cube aggregate over the fact table (map-side
    * combinable), then an 8-row bounded collect for the lattice greedy
    * — the q38-IVF bounded-collect class. */
  def q371_view_selection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dims = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("f"), col("l_linestatus").as("s"),
      date_format(col("l_shipdate"), "yyyy-MM").as("d"))
    val gidCost = dims.cube(col("f"), col("s"), col("d"))
      .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("cnt"))
      .groupBy(col("gid")).agg(count(lit(1)).cast("long").as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // gid bit order (f,s,d): leftmost dim = MSB, bit set = aggregated away
    def label(gid: Int): String = {
      val l = Seq(("f", 4), ("s", 2), ("d", 1))
        .collect { case (n, b) if (gid & b) == 0 => n }.mkString
      if (l.isEmpty) "()" else l
    }
    val cost: Map[String, Long] = gidCost.map { case (g, c) => label(g) -> c }
    val views = cost.keys.toSeq.sorted
    def subOf(w: String, v: String): Boolean = {
      val (cw, cv) = (w.replace("()", "").toSet, v.replace("()", "").toSet)
      cw.subsetOf(cv)
    }
    val base = "fsd"
    var ans: Map[String, Long] = views.map(w => w -> cost(base)).toMap
    var picked = List.empty[(String, Long)]
    (1 to 2).foreach { _ =>
      val (v, b) = views
        .filter(v => v != base && !picked.exists(_._1 == v))
        .map(v => v -> views.filter(subOf(_, v))
          .map(w => math.max(0L, ans(w) - cost(v))).sum)
        .minBy { case (v, b) => (-b, v) }
      picked :+= (v -> b)
      ans = ans.map { case (w, a) =>
        w -> (if (subOf(w, v)) math.min(a, cost(v)) else a) }
    }
    (views.map(v => (0L, v, cost(v))) ++
      picked.zipWithIndex.map { case ((v, b), i) => (i + 1L, v, b) })
      .toDF("round", "view", "value")
      .orderBy(col("round"), col("view"))
  }

  /** Sketch-driven equi-depth range partitioner — the q366 q-digest put
    * to WORK for shuffle planning (the sketch-to-plan loop, next to
    * q126's skew profiler and q207's shuffle planner): boundaries are
    * the digest's k/8 quantiles, every row is bucketed through the
    * compiled SearchSorted expression, and the MEASURED bucket sizes are
    * gated against n/8 ± the two-boundary rank-error bound. This is how
    * a 100 TB range-partitioned write picks split points without a
    * global sort: one sketch pass, 7 numbers to the planner, balance
    * guaranteed by the sketch's rank bound rather than hoped for.
    * The oracle pins n_rows to the table count and every balance gate
    * to true; an over-coarsened digest or an off-by-one bucketer breaks
    * a gate at some scale factor. */
  def q373_range_partitioner(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{QDigest, SearchSortedDouble}
    val parts = 8
    // l_orderkey outgrows the default 24-level universe above ~sf2
    // (6e9 keys at 100 TB) — size the dyadic universe to the domain
    val lv = 40
    val v = Tables.lineitem(spark, dir).select(col("l_orderkey").as("v"))
    val digest = v.agg(QDigest.sketch(col("v"), levels = lv).as("d"))
      .head().getStruct(0)
    val n = digest.getLong(0)
    val nodes = digest.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    val bounds = (1 until parts)
      .map(k => QDigest.quantile(nodes, n, k.toDouble / parts, lv).toDouble)
      .toArray
    // each of a bucket's two boundaries may sit rankBound off its target
    val slack = 2 * QDigest.rankBound(n, lv) + parts
    val counts = v
      .groupBy(SearchSortedDouble.searchSorted(col("v"), bounds)
        .cast("long").as("bucket"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    spark.range(parts).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"), lit(n).as("n_rows"),
        (abs(coalesce(col("cnt"), lit(0L)) - lit(n / parts)) <= lit(slack))
          .as("balanced"))
      .orderBy(col("bucket"))
  }

  /** GROUPED quantile sketches — the q366 q-digest composed with groupBy,
    * which is the form a 100 TB job actually needs (per-tenant /
    * per-partition percentiles in ONE combinable aggregate instead of a
    * window sort per group): one pass builds a digest per returnflag,
    * and every group's 25/50/75 estimates are rank-checked exactly in a
    * second single-pass aggregate (9 conditional sums). The oracle pins
    * each group's row count and every rank gate. */
  def q376_grouped_quantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QDigest
    import spark.implicits._
    // fan + pin (guide §2.5/§1.2): the sketch kernel otherwise runs in the
    // single-task scan stage, and the rank pass re-scans lineitem
    val li = Tables.fan(Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("rf"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("v")))
      .localCheckpoint(true)
    val groups = li.groupBy(col("rf"))
      .agg(QDigest.sketch(col("v")).as("d"))
      .collect() // #groups rows of ≤3k-node digests — bounded
      .map { r =>
        val d = r.getStruct(1)
        (r.getString(0), d.getLong(0),
          d.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getLong(0), x.getLong(1))))
      }.sortBy(_._1)
    val targets = Seq(25L, 50L, 75L)
    val cells = for ((rf, n, nodes) <- groups; p <- targets)
      yield (rf, p, n, QDigest.quantile(nodes, n, p / 100.0))
    val rankAggs = cells.map { case (rf, p, _, est) =>
      sum(when(col("rf") === rf && col("v") <= est, 1L).otherwise(0L))
        .cast("long").as(s"r_${rf}_$p") }
    val ranks = li.agg(rankAggs.head, rankAggs.tail: _*).head()
    cells.zipWithIndex.map { case ((rf, p, n, _), i) =>
      val target = math.max(1L, math.ceil(p / 100.0 * n).toLong)
      (rf, p, n, math.abs(ranks.getLong(i) - target) <= QDigest.rankBound(n))
    }.toSeq.toDF("rf", "q_pct", "n_rows", "rank_ok")
      .orderBy(col("rf"), col("q_pct"))
  }

  /** Acklam 2003 rational approximation to the standard normal
    * quantile (|err| < 1.2e-9); evaluated driver-side only, with the
    * resulting constants interpolated verbatim into both engines. */
  private[graft] def invNorm(p: Double): Double = {
      // Acklam 2003 rational approximation to the standard normal
      // quantile; coefficients are the published constants.
      val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
        -2.759285104469687e+02, 1.383577518672690e+02,
        -3.066479806614716e+01, 2.506628277459239e+00)
      val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
        -1.556989798598866e+02, 6.680131188771972e+01,
        -1.328068155288572e+01)
      val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
        -2.400758277161838e+00, -2.549732539343734e+00,
        4.374664141464968e+00, 2.938163982698783e+00)
      val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
        2.445134137142996e+00, 3.754408661907416e+00)
      val pl = 0.02425
      if (p < pl) {
        val q = math.sqrt(-2 * math.log(p))
        (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
      } else if (p <= 1 - pl) {
        val q = p - 0.5
        val r = q * q
        (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
          (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
      } else {
        val q = math.sqrt(-2 * math.log(1 - p))
        -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }

  /** Exact median absolute deviation of event values — the robust scale
    * estimator (the σ that outliers can't poison) behind robust z-scores
    * and Hampel filters. Two exact lower-medians via the q216 integer
    * rank rule (`2·cum ≥ n`), each over a DISTINCT-value grain whose
    * cumulative is [[graft.transform.PrefixSum]] — the deviation grain is
    * data-dependent (|v − med| re-grains per run), so neither pass may
    * assume a bounded domain. All arithmetic before the final display
    * casts is exact decimal. Scale shape: two grain aggregates + two
    * range-partitioned prefix scans + two one-row broadcasts. */
  def q378_exact_mad(spark: SparkSession, dir: String): DataFrame = {
    import graft.transform.PrefixSum
    // pin the value grain: it feeds tot AND the prefix pass (guide §1.2)
    val ev = Tables.events(spark, dir)
      .select(col("value").cast("decimal(18,2)").as("v"))
    val grain = ev.groupBy(col("v")).agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint(true)
    val tot = grain.agg(sum(col("n")).cast("long").as("nt"))
    val med = PrefixSum.runningSums(grain, Seq(col("v")), Seq("n" -> "cum"))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 2 >= col("nt"))
      .agg(min(col("v")).as("med"))
    val dgrain = ev.crossJoin(broadcast(med))
      .select(abs(col("v") - col("med")).as("dv"))
      .groupBy(col("dv")).agg(count(lit(1)).cast("long").as("n"))
    PrefixSum.runningSums(dgrain, Seq(col("dv")), Seq("n" -> "cum"))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 2 >= col("nt"))
      .agg(min(col("dv")).as("mad_d"), max(col("nt")).as("n_rows"))
      .crossJoin(broadcast(med))
      .select(col("n_rows"), col("med").cast("double").as("median"),
        col("mad_d").cast("double").as("mad"))
  }

  /** Exact 10%-trimmed mean of extended price — the outlier-robust mean
    * computed WITHOUT sorting rows: on the value grain, a value whose
    * occurrences span ranks (cum−n, cum] contributes
    * `overlap((lo, nt−lo], ranks)` copies, so the trim is pure integer
    * interval arithmetic per grain row (ties straddling a trim boundary
    * contribute exactly their surviving copies — no interpolation
    * convention to disagree on). The weighted sum folds decimal-exact;
    * ONE double division at the edge. Scale shape: one grain aggregate +
    * one PrefixSum + one combinable weighted fold. */
  def q379_trimmed_mean(spark: SparkSession, dir: String): DataFrame = {
    import graft.transform.PrefixSum
    val li = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").cast("decimal(18,2)").as("v"))
    // pin the value grain: it feeds tot AND the prefix pass (guide §1.2)
    val grain = li.groupBy(col("v")).agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint(true)
    val tot = grain.agg(sum(col("n")).cast("long").as("nt"))
    val cum = PrefixSum.runningSums(grain, Seq(col("v")), Seq("n" -> "cum"))
      .crossJoin(broadcast(tot))
      .withColumn("lo", expr("nt div 10"))
    val weight = greatest(lit(0L),
      least(col("cum"), col("nt") - col("lo")) -
        greatest(col("cum") - col("n"), col("lo")))
    cum.select(col("nt"), col("lo"),
        (col("v") * weight.cast("decimal(15,0)")).as("wv"))
      .groupBy(col("nt"), col("lo"))
      .agg(sum(col("wv")).cast("decimal(38,2)").as("s"))
      .select(col("nt").as("n_rows"), col("lo").as("n_trimmed_each"),
        // floor-quantize, not round(): both engines floor IDENTICAL
        // doubles, while round(x, 6) can split a .5 boundary
        (floor(col("s").cast("double") /
          (col("nt") - lit(2L) * col("lo")).cast("double") * lit(1e6d) +
          lit(0.5d)) / lit(1e6d)).as("trimmed_mean"))
  }

  /** Exact 5%-winsorized mean of extended price — the clamp-don't-drop
    * robust mean: the p05/p95 order statistics come off the value grain
    * (integer rank rule `cum ≥ ⌈φ·n⌉`, ceil spelled `(k·nt + 99) div
    * 100` in pure integers), then every grain row contributes
    * n · clamp(v, p05, p95) in exact decimal. Scale shape: one grain
    * aggregate + one PrefixSum + a one-row broadcast of the two cut
    * values + one combinable fold. */
  def q380_winsorized_mean(spark: SparkSession, dir: String): DataFrame = {
    import graft.transform.PrefixSum
    val li = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").cast("decimal(18,2)").as("v"))
    // pin the value grain: it feeds tot AND the prefix pass (guide §1.2)
    val grain = li.groupBy(col("v")).agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint(true)
    val tot = grain.agg(sum(col("n")).cast("long").as("nt"))
    val cum = PrefixSum.runningSums(grain, Seq(col("v")), Seq("n" -> "cum"))
      .crossJoin(broadcast(tot))
      .localCheckpoint(true)
    val cuts = cum
      .agg(min(when(col("cum") >= expr("(5 * nt + 99) div 100"), col("v")))
          .as("p05"),
        min(when(col("cum") >= expr("(95 * nt + 99) div 100"), col("v")))
          .as("p95"))
    cum.crossJoin(broadcast(cuts))
      .select(col("nt"), col("p05"), col("p95"),
        (col("n").cast("decimal(15,0)") *
          least(greatest(col("v"), col("p05")), col("p95"))).as("wv"))
      .groupBy(col("nt"), col("p05"), col("p95"))
      .agg(sum(col("wv")).cast("decimal(38,2)").as("s"))
      .select(col("nt").as("n_rows"),
        col("p05").cast("double").as("p05"),
        col("p95").cast("double").as("p95"),
        (floor(col("s").cast("double") / col("nt").cast("double") *
          lit(1e6d) + lit(0.5d)) / lit(1e6d)).as("winsorized_mean"))
  }

  /** Lorenz decile table over per-customer revenue — q166's Gini
    * expanded into the curve itself: customers ranked by (revenue,
    * custkey) via the distributed [[graft.transform.PrefixSum.rowNumber]]
    * (the customer dimension is hundreds of millions of rows at 100 TB),
    * binned into 10 equal-count deciles by integer rank arithmetic, each
    * decile's revenue share and the cumulative share reported. Revenue
    * folds decimal-exact; shares are one double division each, rounded.
    * Scale shape: one customer-grain aggregate + one PrefixSum rank pass
    * + a 10-row decile aggregate (its cumulative is a second PrefixSum —
    * tiny, but keeps the no-unpartitioned-window invariant). */
  def q381_lorenz_deciles(spark: SparkSession, dir: String): DataFrame = {
    import graft.transform.PrefixSum
    // pin the customer grain: it feeds tot AND the rank pass (guide §1.2)
    val cr = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .localCheckpoint(true)
    val tot = cr.agg(count(lit(1)).cast("long").as("nc"),
      sum(col("rev")).cast("decimal(38,2)").as("s"))
    val dec = PrefixSum.rowNumber(cr, Nil,
        Seq(col("rev"), col("o_custkey")), "rn")
      .crossJoin(broadcast(tot))
      .withColumn("decile", expr("((rn - 1) * 10) div nc + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        sum(col("rev")).cast("decimal(38,2)").as("drev"),
        max(col("s")).as("s"))
    PrefixSum.runningSums(dec, Seq(col("decile")), Seq("drev" -> "crev"))
      .select(col("decile"), col("n_customers"),
        (floor(col("drev").cast("double") / col("s").cast("double") *
          lit(1e6d) + lit(0.5d)) / lit(1e6d)).as("rev_share"),
        (floor(col("crev").cast("double") / col("s").cast("double") *
          lit(1e6d) + lit(0.5d)) / lit(1e6d)).as("cum_share"))
      .orderBy(col("decile"))
  }

  /** Depth-2 CART decision tree, trained distributed — the missing
    * supervised-induction family next to the fitted models (q322 NB,
    * q323 ridge, q324 GMM): predict `l_returnflag = 'R'` from integer
    * feature domains (quantity 1..50, discount cents 0..10). Each
    * level's split search is ONE combinable (node, feature, value)
    * aggregate — the corpus collapses to ≤ 2·61 cells per node — then
    * keyed prefix sums over the value domain price every threshold, and
    * the winner minimizes weighted Gini `Σ_c n_c − (pos_c²+neg_c²)/n_c`.
    * The Gini is two exact-long ratios in IEEE double (division and one
    * addition are correctly rounded in both engines — no libm, so the
    * argmin is bit-portable), ties break on (feature, value). Emits the
    * three split rows and the four leaf rows with majority votes.
    *
    * Scale shape: the per-level pass is map-side combinable to the
    * value-domain grain (the q350 histogram discipline); node
    * assignment is a 1-row broadcast join per level; windows partition
    * by (node, feature) — bounded by the domain, never corpus-sized. */
  def q391_cart_tree(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.lineitem(spark, dir).select(
        (col("l_returnflag") === "R").cast("long").as("y"),
        col("l_quantity").cast("long").as("f_qty"),
        round(col("l_discount") * 100).cast("long").as("f_disc"))
      .localCheckpoint(eager = false) // root pass + assignment + leaves
    def bestSplits(assigned: DataFrame): DataFrame = {
      val cells = assigned
        .select(col("node"), lit("disc").as("feat"),
          col("f_disc").as("v"), col("y"))
        .unionByName(assigned.select(col("node"), lit("qty").as("feat"),
          col("f_qty").as("v"), col("y")))
        .groupBy("node", "feat", "v")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("y")).cast("long").as("pos"))
      val cum = Window.partitionBy(col("node"), col("feat"))
        .orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
      val all = Window.partitionBy(col("node"), col("feat"))
      val cand = cells
        .withColumn("nl", sum(col("n")).over(cum))
        .withColumn("posl", sum(col("pos")).over(cum))
        .withColumn("tn", sum(col("n")).over(all))
        .withColumn("tp", sum(col("pos")).over(all))
        .withColumn("nr", col("tn") - col("nl"))
        .withColumn("posr", col("tp") - col("posl"))
        .filter(col("nl") > 0 && col("nr") > 0)
        .withColumn("g",
          (col("nl") * col("nl") - col("posl") * col("posl")
            - (col("nl") - col("posl")) * (col("nl") - col("posl")))
            .cast("double") / col("nl").cast("double")
          + (col("nr") * col("nr") - col("posr") * col("posr")
            - (col("nr") - col("posr")) * (col("nr") - col("posr")))
            .cast("double") / col("nr").cast("double"))
      cand.withColumn("rk", row_number().over(Window.partitionBy(col("node"))
          .orderBy(col("g"), col("feat"), col("v"))))
        .filter(col("rk") === 1)
        .select(col("node"), col("feat"), col("v"), col("g"),
          col("tn"), col("tp"))
    }
    val root = bestSplits(rows.withColumn("node", lit("root")))
    def descend(assigned: DataFrame, splits: DataFrame): DataFrame =
      // limit(2): there are at most 2 splits per level by construction;
      // the explicit GlobalLimit makes the build side PLAN-PROVABLY
      // bounded for JoinSweepSpec even when the root level's constant
      // node key folds the equi-join into a nested loop
      assigned.join(broadcast(splits.select(col("node"),
          col("feat").as("s_feat"), col("v").as("s_v")).limit(2)),
        Seq("node"))
        .withColumn("node", concat(col("node"),
          when(when(col("s_feat") === "qty", col("f_qty"))
            .otherwise(col("f_disc")) <= col("s_v"), "L").otherwise("R")))
        .select(col("node"), col("y"), col("f_qty"), col("f_disc"))
    val level1 = descend(
      rows.withColumn("node", lit("")), // root children named 'L'/'R'
      root.select(lit("").as("node"), col("feat"), col("v")))
    val children = bestSplits(level1)
    val leaves = descend(level1, children)
      .groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("y")).cast("long").as("pos"))
      .withColumn("majority",
        when(col("pos") * 2 > col("n"), 1L).otherwise(0L))
    root.unionByName(children)
      .select(col("node"), lit("split").as("kind"),
        col("feat").as("feature"), col("v").as("threshold"),
        round(col("g"), 9).as("gini"), col("tn").as("n"),
        col("tp").as("pos"), lit(null).cast("long").as("majority"))
      .unionByName(leaves.select(col("node"), lit("leaf").as("kind"),
        lit(null).cast("string").as("feature"),
        lit(null).cast("long").as("threshold"),
        lit(null).cast("double").as("gini"), col("n"), col("pos"),
        col("majority")))
      .orderBy(col("node"), col("kind"))
  }

  /** BH z-scale thresholds Φ⁻¹(1 − iα/(2m)) for α=0.1, every m ≤ 25 and
    * i ≤ m — evaluated once on the driver and interpolated verbatim into
    * both engines, so the BH pass itself is pure comparisons. */
  val bhThresholds: Map[(Int, Int), Double] =
    (for (m <- 1 to 25; i <- 1 to m)
      yield (m, i) -> invNorm(1.0 - i * 0.1 / (2.0 * m))).toMap
}
