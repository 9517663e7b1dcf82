package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the deterministic testdata star schema (TESTDATA.md).
  *
  * Each table is a single parquet file under an sf directory. On a real
  * cluster these would be catalog tables partitioned by date; here the
  * loader is path-based but everything downstream goes through the same
  * DataFrame surface, so swapping in `spark.table(name)` is a one-liner.
  *
  * Every table's schema is declared below, so a load reads no parquet
  * footer, starts no Spark job and sets no session conf. The files'
  * timestamps are parquet TIMESTAMP(MICROS, isAdjustedToUTC=false); they
  * are declared `TIMESTAMP` and read as instants (the session time zone
  * is UTC), so epoch extraction works uniformly. TIMESTAMP(NANOS) files
  * are not supported: a query that reads such a column fails in the scan
  * with Spark's parquet column type mismatch.
  */
object Tables {
  /** Table name -> declared schema (DDL), in star-schema order. */
  val schemas: Seq[(String, String)] = Seq(
    "region"     -> "r_regionkey INT, r_name STRING",
    "nation"     -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer"   -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
                     "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier"   -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part"       -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
                     "p_size INT, p_retailprice DOUBLE"),
    "orders"     -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
                     "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem"   -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
                     "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
                     "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
                     "l_linestatus STRING, l_shipdate TIMESTAMP"),
    "events"     -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
                     "value DOUBLE, props STRING"),
    "documents"  -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  val names: Seq[String] = schemas.map(_._1)
  private val ddl = schemas.toMap

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

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(ddl(name)).parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
