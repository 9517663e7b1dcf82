package graft.similarity

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Random-hyperplane LSH for approximate nearest neighbors at scale.
  *
  * Sign-random-projection: `nBits` fixed hyperplanes (deterministic seed)
  * map each vector to a bucket key; cosine-close vectors land in the same
  * bucket with probability 1 - theta/pi per bit. Search only compares within
  * the query's bucket — the corpus-side shuffle is a hash partition on
  * bucket id, and per-bucket candidate lists are small and independent
  * (embarrassingly parallel across 1000 executors).
  *
  * Bucket keys are bit-strings ('0'/'1' per hyperplane sign), which keeps
  * the hash portable: [[sqlBitString]] emits the same computation as DuckDB
  * SQL from the same plane constants, so LSH results are oracle-verifiable
  * end to end (the planes are inlined as float64 literals; `Double.toString`
  * round-trips exactly through both parsers).
  *
  * Bucketing loses recall vs [[CosineKnn]] brute force (the trade the
  * operator exists to make); [[topPairsBucketed]] compensates with multiple
  * independent hash tables — a pair is a candidate if it collides in ANY
  * table, so recall for cosine>=0.9 pairs stays >98% at 8 tables x 6 bits
  * while the per-table bucket join stays small.
  */
object LshAnn {

  /** Deterministic hyperplanes: nBits x dim coefficients in [-1,1). */
  def hyperplanes(dim: Int, nBits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
  }

  /** Bucket key: one '0'/'1' char per hyperplane sign, computed by the
    * fused [[graft.functions.HyperplaneBits]] expression — one plan node
    * and one cached constant matrix instead of nBits dot/when/concat
    * subtrees (whose Janino compilation dominated band-key wall time). */
  def bitString(vec: Column, planes: Array[Array[Double]]): Column =
    graft.functions.HyperplaneBits.bits(vec, planes)

  /** DuckDB spelling of [[bitString]] over the same plane constants —
    * used by the oracle generator so both engines bucket identically. */
  def sqlBitString(vecSql: String, planes: Array[Array[Double]]): String =
    planes.map { p =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($vecSql, $arr) >= 0 THEN '1' ELSE '0' END)"
    }.mkString("(", " || ", ")")

  /** Per-query top-k within the query's LSH bucket.
    * Output: query_id, neighbor_id, rank, cosine. */
  def topKBucketed(vectors: DataFrame, idCol: String, vecCol: String,
                   queryPredicate: Column, k: Int, nBits: Int = 8,
                   dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, nBits, seed)
    // fan: hyperplane bits + pair cosines otherwise evaluate in the ONE
    // task a single-row-group scan yields (guide §2.5); no-op at scale
    val base = graft.tables.Tables.fan(vectors
        .select(col(idCol).as("id"), CosineKnn.toDouble(col(vecCol)).as("v")))
      .withColumn("nrm", sqrt(CosineKnn.dot(col("v"), col("v"))))
      .withColumn("bkt", bitString(col("v"), planes))
    val queries = broadcast(base.filter(queryPredicate)
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bkt").as("qbkt")))
    val pairs = queries
      .join(base, col("bkt") === col("qbkt") && col("id") =!= col("query_id"))
      .withColumn("cosine",
        CosineKnn.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    pairs.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Band keys for multi-table LSH: `nTables` independent keys per vector,
    * each "<table>|<bits>". A pair is a candidate if any key collides. */
  def bandKeys(vec: Column, nTables: Int, nBits: Int, dim: Int,
               seed: Long): Seq[Column] = {
    val planes = hyperplanes(dim, nTables * nBits, seed)
    (0 until nTables).map { t =>
      concat(lit(s"$t|"), bitString(vec, planes.slice(t * nBits, (t + 1) * nBits)))
    }
  }

  /** DuckDB spelling of [[bandKeys]] (same table/bit layout and planes). */
  def sqlBandKeys(vecSql: String, nTables: Int, nBits: Int, dim: Int,
                  seed: Long): Seq[String] = {
    val planes = hyperplanes(dim, nTables * nBits, seed)
    (0 until nTables).map { t =>
      s"'$t|' || ${sqlBitString(vecSql, planes.slice(t * nBits, (t + 1) * nBits))}"
    }
  }

  /** Most-similar corpus pairs (id_a < id_b), top-N by cosine, restricted
    * to pairs colliding in at least one of `nTables` LSH tables.
    *
    * Scale shape: explode to nTables band keys per vector (ids only — the
    * vectors are NOT carried through the explode), shuffle-join on band key,
    * distinct the candidate ids, then join the vectors back for the exact
    * cosine and TakeOrdered the global top-N. Per-bucket pair counts are
    * O((n/2^nBits)^2) per table — raise nBits with corpus size to hold
    * bucket cardinality; no all-pairs comparison anywhere. */
  def topPairsBucketed(vectors: DataFrame, idCol: String, vecCol: String,
                       topN: Int, nTables: Int = 8, nBits: Int = 6,
                       dim: Int = 64, seed: Long = 42L,
                       maxBucket: Option[Int] = None): DataFrame =
    bucketedPairsCosine(vectors, idCol, vecCol, nTables, nBits, dim, seed,
        maxBucket)
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
      .limit(topN)

  /** All bucketed candidate pairs at cosine >= `threshold` — the edge
    * list SemDeDup-style semantic cluster dedup feeds into connected
    * components. Same recall profile as [[topPairsBucketed]] (a pair must
    * share one of nTables band keys); raise nTables for recall, nBits for
    * bucket cardinality. `maxBucket` is the skew guard: SemDeDup's target
    * corpora are exactly the dup-heavy ones where near-identical embeddings
    * pile into one band bucket, and a bucket of s vectors is s^2/2 candidate
    * pairs — cap it like [[MinHashLsh.candidatePairs]] does. */
  def pairsAbove(vectors: DataFrame, idCol: String, vecCol: String,
                 threshold: Double, nTables: Int = 8, nBits: Int = 6,
                 dim: Int = 64, seed: Long = 42L,
                 maxBucket: Option[Int] = None): DataFrame =
    bucketedPairsCosine(vectors, idCol, vecCol, nTables, nBits, dim, seed,
        maxBucket)
      .filter(col("cosine") >= threshold)

  /** Per-`left`-vector max cosine against any `right` vector colliding in
    * one of `nTables` LSH tables — the bucketed inner loop of semantic
    * decontamination when the held-out side outgrows a broadcast
    * (q77's documented ceiling). Returns `(id, max_cos)` for left ids with
    * at least one candidate; left ids whose bands never collide are absent
    * (the caller left-joins and treats them as uncontaminated).
    *
    * Scale shape: band keys explode ids only (vectors are NOT carried),
    * the only data-sized exchanges are hash partitions on band key, and
    * `maxBucket` caps the COMBINED (left + right) bucket — a degenerate
    * band is quadratic regardless of which side fills it. Approximate
    * where the broadcast loop is exact: a pair must collide in >=1 of
    * nTables tables (>98% recall for cosine>=0.9 at 8 tables x 6 bits).
    * Assumes left/right id spaces are disjoint (a decontamination split). */
  def maxCosineBucketed(left: DataFrame, right: DataFrame, idCol: String,
                        vecCol: String, nTables: Int = 8, nBits: Int = 6,
                        dim: Int = 64, seed: Long = 42L,
                        maxBucket: Option[Int] = None): DataFrame = {
    def norm(df: DataFrame): DataFrame =
      graft.tables.Tables.fan( // see topKBucketed's fan note
          df.select(col(idCol).as("id"), CosineKnn.toDouble(col(vecCol)).as("v")))
        .withColumn("nrm", sqrt(CosineKnn.dot(col("v"), col("v"))))
    val l = norm(left)
    val r = norm(right)
    val keys = bandKeys(col("v"), nTables, nBits, dim, seed)
    def banded(df: DataFrame, side: String): DataFrame =
      df.select(col("id"), explode(array(keys: _*)).as("bkey"))
        .withColumn("__side", lit(side))
    val capped = CapFold.capBuckets(
      banded(l, "l").unionByName(banded(r, "r")), Seq("bkey"), maxBucket)
    val cand = capped.filter(col("__side") === "l").select(col("id"), col("bkey"))
      .join(capped.filter(col("__side") === "r")
        .select(col("id").as("rid"), col("bkey")), "bkey")
      .select(col("id"), col("rid")).distinct()
    cand.join(l, "id")
      .join(r.select(col("id").as("rid"), col("v").as("rv"),
        col("nrm").as("rnrm")), "rid")
      .groupBy(col("id"))
      .agg(max(CosineKnn.dot(col("v"), col("rv")) / (col("nrm") * col("rnrm")))
        .as("max_cos"))
  }

  private def bucketedPairsCosine(vectors: DataFrame, idCol: String,
                                  vecCol: String, nTables: Int, nBits: Int,
                                  dim: Int, seed: Long,
                                  maxBucket: Option[Int] = None): DataFrame = {
    val base = graft.tables.Tables.fan( // see topKBucketed's fan note
        vectors.select(col(idCol).as("id"), CosineKnn.toDouble(col(vecCol)).as("v")))
      .withColumn("nrm", sqrt(CosineKnn.dot(col("v"), col("v"))))
    val keys = bandKeys(col("v"), nTables, nBits, dim, seed)
    val banded = CapFold.capBuckets(
      base.select(col("id"), explode(array(keys: _*)).as("bkey")), Seq("bkey"),
      maxBucket)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val va = base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("nrm_a"))
    val vb = base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nrm_b"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", CosineKnn.dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
