package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Bridge into Spark's private[sql] Column <-> Expression conversion, the
  * supported seam for exposing custom Catalyst expressions through the
  * public Column API in Spark 4 (Column is expression-free in sql-api).
  * Lives under org.apache.spark.sql to satisfy the access qualifier; no
  * Spark internals are modified.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (possibly custom) logical plan — the seam custom
    * operators use to enter the public Dataset API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Write `df` as a BUCKETED parquet table at `dir`, by path: Spark's
    * bucketed file writer (the one `saveAsTable` runs) with no catalog
    * entry — each file carries its bucket id in its name and is sorted by
    * `bucketCols`. `append` adds files beside the existing ones; otherwise
    * the dir is replaced. */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, dir: String,
                    bucketCols: Seq[String], numBuckets: Int,
                    append: Boolean): Unit = {
    import org.apache.spark.sql.SaveMode
    val plan = df.queryExecution.analyzed
    ofRows(df.sparkSession,
      org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand(
        new org.apache.hadoop.fs.Path(dir), Map.empty,
        ifPartitionNotExists = false, Nil,
        Some(BucketSpec(numBuckets, bucketCols, bucketCols)),
        new ParquetFileFormat, Map("path" -> dir), plan,
        if (append) SaveMode.Append else SaveMode.Overwrite, None, None,
        plan.output.map(_.name)))
    ()
  }

  /** The bucketed parquet table at `dir` (see [[writeBucketed]]), read by
    * path with `schema` and the bucket spec: its scan is a bucketed scan,
    * so joins on `bucketCols` exchange only the other side. The dir is
    * listed now; the frame keeps that listing. */
  def readBucketed(spark: org.apache.spark.sql.SparkSession, dir: String,
                   schema: org.apache.spark.sql.types.StructType,
                   bucketCols: Seq[String], numBuckets: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val files = new InMemoryFileIndex(spark,
      Seq(new org.apache.hadoop.fs.Path(dir)), Map.empty, Some(schema))
    ofRows(spark, LogicalRelation(HadoopFsRelation(files,
      files.partitionSchema, schema.asNullable,
      Some(BucketSpec(numBuckets, bucketCols, bucketCols)),
      new ParquetFileFormat, Map.empty)(spark)))
  }

  /** True when the session's CacheManager holds no cached plans — lets
    * tests assert operators release every persist they take. */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Count Spark jobs launched while `body` runs — lets tests pin the
    * per-round job budget of iterative algorithms (a convergence probe
    * that silently grows from one aggregate to two shuffling anti-joins
    * per round is a real 100 TB regression the result hash can't see). */
  def countJobs(spark: org.apache.spark.sql.SparkSession)(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try { body; sc.listenerBus.waitUntilEmpty() }
    finally sc.removeSparkListener(listener)
    n.get()
  }
}
