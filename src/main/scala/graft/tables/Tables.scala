package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the deterministic testdata star schema (TESTDATA.md).
  *
  * Each table is a single parquet file under an sf directory. On a real
  * cluster these would be catalog tables partitioned by date; here the
  * loader is path-based but everything downstream goes through the same
  * DataFrame surface, so swapping in `spark.table(name)` is a one-liner.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Largest estimated input [[fan]] repartitions: 1 GiB. */
  val FanMaxBytes: Long = 1L << 30

  /** Fan a SMALL unsplittable input out to the session's parallelism
    * before a CPU-heavy per-row kernel (decode, shingle+digest, DP).
    *
    * The testdata tables are single-file single-row-group parquet, so a
    * scan is ONE task no matter what `maxPartitionBytes` says — every
    * narrow kernel chained on it runs on one core of the machine (guide
    * §2.5 "input skew: one huge unsplittable file... repartition
    * immediately after the read"). The round-robin exchange here carries
    * only the projected columns that feed the kernel.
    *
    * Scale guard: a no-op when the plan's estimated input exceeds
    * [[FanMaxBytes]] — a big production table arrives in many natural
    * splits and must NOT be payload-shuffled for parallelism;
    * `localCheckpoint`ed frames keep their origin stats, so the guard sees
    * through pinned intermediates too. */
  def fan[T](ds: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.Dataset[T] = {
    val spark = ds.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val size = ds.queryExecution.analyzed.stats.sizeInBytes
    if (par > 1 && size <= FanMaxBytes) ds.repartition(par) else ds
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Testdata timestamps are parquet TIMESTAMP(isAdjustedToUTC=false); read
    // them as instants (session TZ is UTC) so epoch extraction works uniformly.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped as both TIMESTAMP(NANOS) (which Spark's parquet
    * reader rejects without the legacy nanos-as-long conf) and plain
    * TIMESTAMP(MICROS) across testdata generations. Handle both: read with
    * the legacy conf on, and only rebuild the timestamp from the nanos long
    * when the reader actually surfaced a long (truncation to micros is
    * lossless — the generator emits exact micros). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
