package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Brute-force cosine similarity search over an embedding column.
  *
  * The dot product is a strict left-to-right fold in float64
  * (`aggregate(zip_with(...))`) — deterministic and bit-identical to
  * DuckDB's `list_dot_product(DOUBLE[], DOUBLE[])`, which makes ranks
  * oracle-verifiable.
  *
  * Scale design: queries are broadcast (a query batch is small by
  * construction); the corpus streams through one scan — no shuffle until
  * the per-query top-k, which is a window over rank on query_id (k rows per
  * query survive). For corpus-x-corpus workloads use [[LshAnn]] to bucket
  * first. Norms are computed once per side, not per pair.
  */
object CosineKnn {

  /** Deterministic float64 dot product of two array<double> columns.
    * Compiled expression; see [[graft.functions.DotProduct]] for FP-order
    * parity with the `aggregate(zip_with(...))` form and DuckDB. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  def toDouble(vec: Column): Column = transform(vec, _.cast("double"))

  /** Per-query top-k neighbors by cosine (self excluded).
    * Output: query_id, neighbor_id, rank, cosine. */
  def topK(vectors: DataFrame, idCol: String, vecCol: String,
           queryPredicate: Column, k: Int): DataFrame = {
    // fan: a single-row-group corpus scans as ONE task, serializing every
    // pair dot product on one core (guide §2.5); no-op at corpus scale
    val base = graft.tables.Tables.fan(
        vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val queries = broadcast(
      base.filter(queryPredicate)
        .select(col("id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
    val pairs = queries.join(base, col("id") =!= col("query_id"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    pairs.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }
}
