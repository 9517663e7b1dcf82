package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, functions => F}

/** Durable high-water marks for incremental ingestion: the reference
  * documents watermark-driven JDBC loads (`docs/07-developer-guide.md:
  * 665-671`) but leaves "where does the last value live between runs" to
  * the operator. This is the minimal durable answer: one JSON file of
  * `key -> last value` with atomic replace (write-temp + ATOMIC_MOVE), so
  * a crashed run never truncates the store.
  *
  * Usage: `get(key)` feeds `JdbcReader.watermark`; after a successful
  * write, `advance(df, col, key)` records the batch's max. Scale note:
  * computing the max is one agg over the already-materialized batch; the
  * store itself is driver-side metadata (bytes, not data).
  *
  * Concurrency contract: SINGLE WRITER per store file. `put` is a
  * read-modify-write of the whole map — the rename makes each replacement
  * atomic, but two drivers updating one file can interleave read/move and
  * drop each other's keys. Pipelines in one driver are safe (`put` is
  * synchronized below); separate drivers need separate store files (e.g.
  * one per pipeline) or an external lock.
  */
final class WatermarkStore(path: String) {

  private val file = Paths.get(path)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def readAll(): Map[String, String] =
    if (!Files.isRegularFile(file)) Map.empty
    else mapper.readValue(Files.readString(file),
      classOf[java.util.Map[String, String]]).asScala.toMap

  def get(key: String): Option[String] = readAll().get(key)

  def put(key: String, value: String): Unit = synchronized {
    val next = readAll() + (key -> value)
    Option(file.getParent).foreach(Files.createDirectories(_))
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    Files.writeString(tmp, mapper.writeValueAsString(next.asJava))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Record the batch's max watermark value (stringified — the same form
    * `JdbcReader.dbtable` embeds in the pushdown predicate).
    *
    * MONOTONIC: the mark only moves forward. A zero-row batch is a no-op,
    * and a batch whose max is BELOW the stored mark (a backfill, or a
    * full re-read through a source with no watermark pushdown) leaves the
    * mark untouched — regressing it would re-ingest everything between
    * the batch max and the old mark on the next incremental run. The
    * comparison happens in the COLUMN's type (the stored string is cast
    * back), so `"9" < "10"` string traps can't bite timestamps/numerics. */
  def advance(df: DataFrame, column: String, key: String): Option[String] = {
    val stored = get(key)
    val maxCol = F.max(F.col(column))
    val agg = stored match {
      case Some(s) =>
        df.agg(maxCol.cast("string"),
          (maxCol > F.lit(s).cast(df.schema(column).dataType)).as("__adv"))
      case None => df.agg(maxCol.cast("string"), F.lit(true).as("__adv"))
    }
    val row = agg.collect()(0)
    if (row.isNullAt(0)) None // empty batch: never regress
    else if (!row.isNullAt(1) && !row.getBoolean(1)) None // max <= stored
    else {
      val v = row.getString(0)
      put(key, v)
      Some(v)
    }
  }
}
