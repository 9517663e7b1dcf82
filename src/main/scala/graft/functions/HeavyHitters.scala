package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** SpaceSaving heavy-hitters sketch as a typed `Aggregator` (the
  * `Aggregator[IN,BUF,OUT]` + `udaf()` surface; SURVEY.md §2C).
  *
  * Finds the ~top-k most frequent strings in one pass with O(capacity)
  * memory per partition — the standard approximate answer to "top domains /
  * top near-dup clusters / hottest keys" over 100 TB where an exact
  * groupBy-count would shuffle every distinct value. Guarantees: any item
  * with true count > N/capacity is present; reported counts overestimate by
  * at most the smallest bucket's error bound.
  *
  * Merge is the sketch-standard pairwise combine (counts of shared keys add;
  * disjoint keys offset by the other sketch's floor), so partial aggregation
  * (map-side combine) applies like any algebraic agg.
  */
object HeavyHitters {

  final case class Sketch(counts: Map[String, Long], errors: Map[String, Long]) {
    def floor: Long = if (counts.size < SketchCapacity) 0L else counts.values.min
  }

  /** Fixed sketch width; 4x the k you intend to report is a good rule. */
  val SketchCapacity = 64

  final case class TopItem(item: String, count: Long, maxError: Long)

  private def insert(s: Sketch, item: String, weight: Long, error: Long): Sketch =
    s.counts.get(item) match {
      case Some(c) =>
        Sketch(s.counts.updated(item, c + weight), s.errors)
      case None if s.counts.size < SketchCapacity =>
        Sketch(s.counts.updated(item, weight + error),
          s.errors.updated(item, error))
      case None =>
        // evict the minimum bucket (SpaceSaving replacement)
        val (minItem, minCount) = s.counts.minBy { case (k, v) => (v, k) }
        Sketch(
          s.counts - minItem + (item -> (minCount + weight)),
          s.errors - minItem + (item -> minCount))
    }

  val aggregator: Aggregator[String, Sketch, Array[TopItem]] =
    new Aggregator[String, Sketch, Array[TopItem]] {
      def zero: Sketch = Sketch(Map.empty, Map.empty)

      def reduce(b: Sketch, item: String): Sketch =
        if (item == null) b else insert(b, item, 1L, 0L)

      def merge(a: Sketch, b: Sketch): Sketch = {
        val floorA = a.floor
        val floorB = b.floor
        val keys = a.counts.keySet ++ b.counts.keySet
        val merged = keys.toSeq.map { k =>
          val ca = a.counts.getOrElse(k, floorA)
          val ea = a.errors.getOrElse(k, if (a.counts.contains(k)) 0L else floorA)
          val cb = b.counts.getOrElse(k, floorB)
          val eb = b.errors.getOrElse(k, if (b.counts.contains(k)) 0L else floorB)
          k -> ((ca + cb), (ea + eb))
        }.sortBy { case (k, (c, _)) => (-c, k) }.take(SketchCapacity)
        Sketch(merged.map { case (k, (c, _)) => k -> c }.toMap,
          merged.map { case (k, (_, e)) => k -> e }.toMap)
      }

      def finish(s: Sketch): Array[TopItem] =
        s.counts.toSeq.sortBy { case (k, c) => (-c, k) }
          .map { case (k, c) => TopItem(k, c, s.errors.getOrElse(k, 0L)) }
          .toArray

      def bufferEncoder: Encoder[Sketch] = Encoders.product[Sketch]
      def outputEncoder: Encoder[Array[TopItem]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[TopItem]]()
    }

  /** Column-API entry point: heavyHitters(stringColumn) -> array<struct>. */
  def heavyHitters(c: Column): Column = udaf(aggregator).apply(c)
}
