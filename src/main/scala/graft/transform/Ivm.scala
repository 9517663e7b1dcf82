package graft.transform

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Commit
import graft.plans.TopKPerKey

/** Incremental maintenance of join-aggregate views via signed deltas
  * (z-sets): every change batch is a relation of rows tagged with a
  * multiplicity `_m` (+1 insert, -1 retraction), the view delta is the
  * SAME aggregate query run over just the batch with every measure
  * weighted by `_m`, and the stored view folds deltas by key. Because
  * count and sum are commutative-group aggregates (they have inverses),
  * fold(state, delta(batch)) equals a full recompute EXACTLY — deletes
  * included — which is the algebraic fact the reference's gold-layer
  * "aggregations and roll-ups" roadmap (docs/00-architecture-overview.md:237-245)
  * needs to avoid full refreshes.
  *
  * The 100 TB property: maintaining a view over a year of ingest costs
  * O(|batch|) per batch — one scan of the batch, broadcast joins to
  * dimensions, one partial aggregate — and the fold input is
  * #batches x #groups metadata rows. The base table is never re-read;
  * contrast a nightly full refresh that re-shuffles the whole fact
  * table. Min/max are NOT maintained here: they are monoid-only (no
  * inverse), so a retraction can invalidate them — [[graft.metrics.ProfileStore]]
  * covers the insert-only monoid family; this covers the group family
  * under deletes.
  *
  * State lifecycle: the config folds ([[foldGroup]], [[foldMin]],
  * [[foldTopK]]) merge each batch into the newest state and publish the
  * result as one [[Commit]] generation, as [[graft.metrics.ProfileStore]]
  * does, so a view read costs O(#groups), never O(#batches). The plain
  * `append`/`current` pair keeps tiny per-batch delta parquet in a state
  * dir and folds it on read. Either way groups whose net multiplicity
  * reached zero are dropped (a fully-retracted group must VANISH from the
  * view, not linger as a zero row).
  */
object Ivm {

  /** Multiplicity column carried by signed change batches. */
  val MultCol = "_m"

  /** Tag a batch of new rows as inserts (+1). */
  def inserts(df: DataFrame): DataFrame = df.withColumn(MultCol, lit(1L))

  /** Tag a batch of removed rows as retractions (-1). The rows must be
    * the full previously-inserted rows (z-set deletion is by value). */
  def retracts(df: DataFrame): DataFrame = df.withColumn(MultCol, lit(-1L))

  /** The view-delta query: the view's own group-aggregate evaluated over
    * ONE signed batch, with `n_rows` = SUM(_m) and each measure summed
    * pre-weighted by `_m`. Joins to dimension tables (to reach the group
    * keys) should be applied to the batch BEFORE calling this — the
    * delta rule d(R ⋈ D) = dR ⋈ D holds when dimensions are static.
    */
  def viewDelta(batch: DataFrame, keys: Seq[String],
      measures: Seq[(String, Column)]): DataFrame = {
    val m = col(MultCol)
    val aggs = sum(m).cast("long").as("n_rows") +:
      measures.map { case (name, c) => sum(c * m).as(name) }
    batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Persist one view delta into the state dir (tiny metadata write). */
  def append(delta: DataFrame, stateDir: String): Unit =
    delta.write.mode("append").parquet(stateDir)

  /** Fold stored deltas into the current view. Sums add by key; groups
    * with net multiplicity 0 are dropped. One #batches x #groups-row
    * aggregate — the base data is never re-read. */
  def current(spark: SparkSession, stateDir: String, keys: Seq[String]): DataFrame =
    merge(spark.read.parquet(stateDir), keys)

  /** Fold the change batch read from `src` into the state at `stateDir`,
    * by `keys` summing `sums`, and return the view. Count and sum are
    * invertible, so retractions fold exactly into the merged state. */
  def foldGroup(batch: DataFrame, src: String, stateDir: String,
      keys: Seq[String], sums: Seq[String]): DataFrame = {
    val delta = viewDelta(asZ(batch), keys, sums.map(c => c -> col(c)))
    // a merge widens decimal sums; the state keeps the delta's types
    val typed = delta.schema.map(f => col(f.name).cast(f.dataType))
    val mergeTyped = (d: DataFrame) => merge(d, keys).select(typed: _*)
    fold(batch, src, stateDir, delta.schema, mergeTyped)(state =>
      mergeTyped(state.fold(delta)(_.unionByName(delta))))
  }

  /** Fold the change batch read from `src` into the MIN state at
    * `stateDir` and return the view (keys, min_v, n_rows): inserts fold
    * monoidally, retractions repair from the post-delete `base` path. */
  def foldMin(batch: DataFrame, src: String, stateDir: String,
      keys: Seq[String], valueCol: String, base: Option[String]): DataFrame = {
    val z = asZ(batch)
    val empty = z.limit(0).groupBy(keys.map(col): _*)
      .agg(min(col(valueCol)).as("min_v"), count(lit(1)).cast("long").as("n_rows"))
    fold(batch, src, stateDir, empty.schema, identity) { state =>
      val afterIns = minInsert(state.getOrElse(empty), z.filter(col(MultCol) > 0),
        keys, valueCol)
      val rets = z.filter(col(MultCol) < 0)
      if (rets.isEmpty) afterIns
      else {
        val basePath = base.getOrElse(throw new IllegalArgumentException(
          "ivm agg=min with retractions needs base=<post-delete base table " +
            "path> for the repair scan"))
        minRetract(afterIns, rets, z.sparkSession.read.parquet(basePath),
          keys, valueCol).drop("recomputed")
      }
    }
  }

  /** Fold the inserts of the change batch read from `src` into the per-key
    * top-`k` leaderboard at `stateDir` (first of `orderCols` descending,
    * tiebreaks ascending) and return it: a union-then-truncate monoid
    * fold over the spilling [[TopKPerKey]] heap. */
  def foldTopK(batch: DataFrame, src: String, stateDir: String,
      keys: Seq[String], orderCols: Seq[String], k: Int): DataFrame = {
    val order = col(orderCols.head).desc +: orderCols.tail.map(c => col(c).asc)
    val kcols = keys.map(col)
    val top = TopKPerKey.topKPerKey(asZ(batch).filter(col(MultCol) > 0).drop(MultCol),
      kcols, order, k)
    fold(batch, src, stateDir, top.schema, identity)(
      _.fold(top)(s => TopKPerKey.topKPerKey(s.unionByName(top), kcols, order, k)))
  }

  /** [[Commit.Store.fold]] the batch from `src` into the state at
    * `stateDir` and read the current state as `schema`. */
  private def fold(batch: DataFrame, src: String, stateDir: String,
      schema: StructType, base: DataFrame => DataFrame)(
      next: Option[DataFrame] => DataFrame): DataFrame =
    Commit(batch.sparkSession, stateDir).fold(src, schema, base)(next)
      .getOrElse(throw new IllegalStateException(s"no state under $stateDir after fold"))

  /** Lift an unsigned (plain) relation into the z-set view: every stored
    * row has multiplicity +1. */
  def asZ(df: DataFrame): DataFrame =
    if (df.columns.contains(MultCol)) df else inserts(df)

  /** Z-set join: multiplicities MULTIPLY, so an insert joining an insert
    * contributes +1, an insert joining a retraction contributes −1 —
    * exactly the algebra that makes two-sided deltas cancel correctly. */
  def zJoin(a: DataFrame, b: DataFrame, on: Seq[String]): DataFrame =
    a.withColumnRenamed(MultCol, "_ma")
      .join(b.withColumnRenamed(MultCol, "_mb"), on)
      .withColumn(MultCol, col("_ma") * col("_mb"))
      .drop("_ma", "_mb")

  /** The bilinear join-delta rule: when BOTH join sides change in one
    * batch, d(R ⋈ S) = dR ⋈ S_new + R_old ⋈ dS (the dR ⋈ dS cross term
    * lands exactly once, inside the first join). `rOld`/`sOld` are the
    * relations as accumulated BEFORE this batch — in a lakehouse these
    * are the bronze tables the deltas append to, so the per-batch cost
    * is two equi-joins touching only delta-sized probe sides, never a
    * recompute of R ⋈ S. */
  def joinDelta(rOld: DataFrame, dR: DataFrame, sOld: DataFrame,
      dS: DataFrame, on: Seq[String]): DataFrame =
    zJoin(dR, asZ(sOld).unionByName(dS), on)
      .unionByName(zJoin(asZ(rOld), dS, on))

  /** MIN maintenance, insert side: min is a monoid (no inverse needed
    * going up), so an insert batch folds as one delta aggregate. State
    * rows: keys, min_v, n_rows. */
  def minInsert(state: DataFrame, ins: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    val d = ins.groupBy(keys.map(col): _*)
      .agg(min(col(valueCol)).as("min_v"),
        count(lit(1)).cast("long").as("n_rows"))
    state.select((keys.map(col) :+ col("min_v") :+ col("n_rows")): _*)
      .unionByName(d)
      .groupBy(keys.map(col): _*)
      .agg(min(col("min_v")).as("min_v"),
        sum(col("n_rows")).cast("long").as("n_rows"))
  }

  /** MIN maintenance, delete side — the aggregate family WITHOUT an
    * inverse, where z-set subtraction can't help: a retraction batch is
    * split per group into (a) deletes that miss the stored minimum —
    * counts decrement, min stands, no data touched — and (b) deletes
    * that hit it, where ONLY those groups are re-aggregated from the
    * post-delete base via a semi join. Per-batch cost is O(|delta|)
    * plus a scan pruned to the affected groups (partition/file pruning
    * applies on a key-partitioned base) — the standard "repair, don't
    * refresh" treatment (DBSP/Materialize do the same) instead of the
    * nightly full recompute. Fully-deleted groups vanish (repair finds
    * no rows). Output carries a `recomputed` flag per group so audits
    * can price the repair path. */
  def minRetract(state: DataFrame, rets: DataFrame, base: DataFrame,
      keys: Seq[String], valueCol: String): DataFrame = {
    val k = keys.map(col)
    val r = rets.groupBy(k: _*)
      .agg(min(col(valueCol)).as("rmin"),
        count(lit(1)).cast("long").as("rn"))
    val j = state.join(r, keys, "left")
    val untouched = j.filter(col("rmin").isNull || col("rmin") > col("min_v"))
      .select((k :+ col("min_v") :+
        (col("n_rows") - coalesce(col("rn"), lit(0L))).cast("long").as("n_rows") :+
        lit(false).as("recomputed")): _*)
    val repaired = base
      .join(j.filter(col("rmin") <= col("min_v")).select(k: _*), keys, "left_semi")
      .groupBy(k: _*)
      .agg(min(col(valueCol)).as("min_v"),
        count(lit(1)).cast("long").as("n_rows"))
      .withColumn("recomputed", lit(true))
    untouched.unionByName(repaired).filter(col("n_rows") > 0L)
  }

  /** Merge delta rows (any number of batches, any order) by key. */
  def merge(deltas: DataFrame, keys: Seq[String]): DataFrame = {
    val sumCols = deltas.columns.filterNot(keys.contains)
    val aggs = sumCols.map(c =>
      (if (c == "n_rows") sum(col(c)).cast("long") else sum(col(c))).as(c))
    deltas.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n_rows") =!= 0L)
  }
}
