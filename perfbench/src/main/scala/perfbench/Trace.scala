package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Clock shared by spans and Spark events: epoch milliseconds with
  * sub-millisecond resolution (Spark stamps its events with
  * `System.currentTimeMillis`). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One interval of the trace tree. `module` is the graft module
  * (`src/main/scala/graft/<module>`) the time is attributed to. */
final case class Span(id: Long, parent: Long, name: String, module: String,
                      start: Double, end: Double)

/** Span recorder plus Spark, streaming and query-execution listeners.
  *
  * Spans are opened by the benchmark around each public call it makes;
  * every Spark job becomes a child span of the span that was open on the
  * thread that launched it (carried in a job-local property), or of its
  * micro-batch span for streaming jobs. A job's module comes from the
  * call site Spark records for its result stage: the first graft frame
  * (`graft.dq.DQRuleSet.run(DQPlan.scala:58)` -> dq), else the source
  * file of the short call site (`save at SinkWriter.scala:39` ->
  * lakehouse). Everything stays in memory until [[report]].
  *
  * Recording happens only while [[on]] is set, so one run can time
  * alternate operations with and without tracing.
  */
final class Tracer(spark: SparkSession, fileModules: Map[String, String]) {
  @volatile var on = false
  private val SpanProp = "perfbench.span"
  private var nextId = 1L
  private val spans = new ConcurrentLinkedQueue[Span]()
  private var stack = List(0L)

  import Tracer._

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val queryPhase = mutable.Map.empty[String, Long]
  private val executions = mutable.Map.empty[Long, String]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Add `v` to the per-layer counter `k`. */
  def count(k: String, v: Double): Unit =
    counters.synchronized { counters(k) += v }

  /** Record `body` as a span named `name`, attributed to `module`. */
  def span[T](name: String, module: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.head
      val prevProp = sc.getLocalProperty(SpanProp)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val start = Clock.ms
      try body
      finally {
        spans.add(Span(id, parent, name, module, start, Clock.ms))
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Record a root span whose bounds were taken by the caller (a phase
    * driven from another thread); returns its id. */
  def rootSpan(name: String, module: String, start: Double, end: Double): Long = {
    val id = synchronized { nextId += 1; nextId }
    spans.add(Span(id, 0L, name, module, start, end))
    id
  }

  /** Micro-batches of streaming query `queryId` become children of span
    * `parent`. */
  def adoptQuery(queryId: String, parent: Long): Unit =
    queryPhase.synchronized { queryPhase(queryId) = parent }

  private def moduleOf(details: String, shortSite: String): String = {
    val frame = details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
    frame match {
      case Some(f) if f.startsWith("perfbench.") => "perfbench"
      case Some(f) =>
        val parts = f.split('.')
        if (parts.length > 2 && parts(1).headOption.exists(_.isLower)) parts(1)
        else "graft"
      case None =>
        val file = shortSite.split(" at ").lastOption
          .map(_.takeWhile(_ != ':')).getOrElse("")
        fileModules.getOrElse(file, "spark")
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val batch = for {
        q <- prop("sql.streaming.queryId")
        b <- prop("streaming.sql.batchId")
      } yield (q, b.toLong)
      val resultStage = e.stageInfos.maxBy(_.stageId)
      jobs.synchronized {
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        jobs(e.jobId) = JobRec(e.jobId, prop(SpanProp).map(_.toLong).getOrElse(0L),
          batch, moduleOf(resultStage.details, resultStage.name),
          prop("spark.sql.execution.id").map(_.toLong), e.time.toDouble, e.time.toDouble,
          e.stageInfos.size)
      }
    }
    // jobs a SQL execution launches from Spark's own threads (adaptive
    // query stages, broadcasts) carry no graft frame: they take the module
    // of the call that started the execution
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if on =>
        executions.synchronized {
          executions(x.executionId) = moduleOf(x.details, x.description)
        }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId).foreach(_.end = e.time.toDouble))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val job = jobs.synchronized(stageJob.get(e.stageId))
      val m = Option(e.taskMetrics)
      job.foreach(j => tasks.add(TaskRec(j, e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))))
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (p.numInputRows > 0)
        batches.add(BatchRec(p.id.toString, p.batchId, start,
          start + d.getOrElse("triggerExecution", 0L), d, p.numInputRows))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = if (on) {
      Tracer.walk(qe.executedPlan) { node =>
        def metric(k: String): Double =
          node.metrics.get(k).map((m: SQLMetric) => m.value.toDouble).getOrElse(0.0)
        val n = node.nodeName
        if (n.startsWith("Scan ") || n.contains("FileScan")) {
          count("io.files_read", metric("numFiles"))
          count("io.bytes_read", metric("filesSize"))
          count("io.rows_read", metric("numOutputRows"))
        }
        if (node.metrics.contains("numOutputBytes")) {
          count("lakehouse.files_written", metric("numFiles"))
          count("lakehouse.bytes_written", metric("numOutputBytes"))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  /** Per-module attribution of the traced root spans (`roots`): every
    * millisecond of a root belongs to the deepest span covering it (the
    * latest-started one among overlapping siblings), so self times add up
    * to the traced wall exactly. Driver-only time is the part of that
    * with no Spark task running. */
  def report(): Tracer.Report = {
    val execModule = executions.synchronized(executions.toMap)
    val jobList = jobs.synchronized(jobs.values.toList).map { j =>
      if (j.module != "spark") j
      else j.copy(module = j.execution.flatMap(execModule.get).getOrElse("spark"))
    }
    val batchList = batches.asScala.toList
    val harness = spans.asScala.toList
    val batchSpanIds = mutable.Map.empty[(String, Long), Long]
    var id = synchronized(nextId)
    val batchSpans = batchList.map { b =>
      id += 1
      batchSpanIds((b.queryId, b.batchId)) = id
      Span(id, queryPhase.getOrElse(b.queryId, 0L), "micro-batch",
        "streaming", b.start, b.end)
    }
    val harnessModule = harness.map(s => s.id -> s.module).toMap
    val jobSpans = jobList.map { j =>
      id += 1
      val parent = j.batch.flatMap(batchSpanIds.get).getOrElse(j.parentSpan)
      // an action the benchmark itself calls (`count()` of a query) runs
      // the code of the public call it times
      val module =
        if (j.module == "perfbench") harnessModule.getOrElse(parent, j.module) else j.module
      Span(id, parent, s"job ${j.jobId}", module, j.start, j.end)
    }
    val all = harness ++ batchSpans ++ jobSpans
    val byId = all.map(s => s.id -> s).toMap
    def depth(s: Span): Int =
      if (s.parent == 0L || !byId.contains(s.parent)) 0 else 1 + depth(byId(s.parent))
    val roots = harness.filter(_.parent == 0L)
    val taskList = tasks.asScala.toList
    if (roots.isEmpty) return Tracer.Report(Nil, Map.empty, 0, 0, 0, 0, 0, 0, 0)
    val t0 = roots.map(_.start).min
    val t1 = roots.map(_.end).max
    val bins = math.max(1, math.ceil(t1 - t0).toInt)
    val owner = Array.fill(bins)(-1L)
    val busy = new Array[Boolean](bins)
    def paint(s: Span, within: Span): Unit = {
      val a = math.max(0, math.floor(math.max(s.start, within.start) - t0).toInt)
      val b = math.min(bins, math.ceil(math.min(s.end, within.end) - t0).toInt)
      var i = a
      while (i < b) { owner(i) = s.id; i += 1 }
    }
    def rootOf(s: Span): Span =
      if (s.parent == 0L || !byId.contains(s.parent)) s else rootOf(byId(s.parent))
    val rootIds = roots.map(_.id).toSet
    all.map(s => (s, rootOf(s))).filter(x => rootIds(x._2.id))
      .sortBy { case (s, _) => (depth(s), s.start) }
      .foreach { case (s, r) => paint(s, r) }
    taskList.foreach { t =>
      var i = math.max(0, (t.start - t0).toInt)
      val b = math.min(bins, math.ceil(t.end - t0).toInt)
      while (i < b) { busy(i) = true; i += 1 }
    }
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val driverOnly = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var i = 0
    while (i < bins) {
      if (owner(i) >= 0) {
        val m = byId(owner(i)).module
        self(m) += 1.0
        if (!busy(i)) driverOnly(m) += 1.0
      }
      i += 1
    }
    val tasksByJob = taskList.groupBy(_.jobId)
    val jobsByModule = jobList.zip(jobSpans).groupBy(_._2.module)
      .map { case (m, js) => m -> js.map(_._1) }
    val modules = (self.keySet ++ jobsByModule.keySet).toSeq.sorted.map { m =>
      val js = jobsByModule.getOrElse(m, Nil)
      val ts = js.flatMap(j => tasksByJob.getOrElse(j.jobId, Nil))
      Tracer.ModuleRow(m, self(m) / 1e3, driverOnly(m) / 1e3, js.size,
        js.map(_.stages).sum, ts.size, ts.map(_.runMs).sum / 1e3,
        ts.map(_.shuffleBytes).sum.toDouble, ts.map(_.spillBytes).sum.toDouble)
    }
    val tracedWall = roots.map(r => r.end - r.start).sum / 1e3
    val spanName = all.map(s => s.id -> s.name).toMap
    val jobsUnder = jobSpans.groupBy(j => spanName.getOrElse(j.parent, "none"))
      .map { case (n, js) => s"jobs_under.$n" -> js.size.toDouble }
    Tracer.Report(
      modules = modules,
      counters = counters.synchronized(counters.toMap) ++ Map(
        "streaming.batches" -> batchList.size.toDouble,
        "streaming.trigger_s" -> batchList.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3,
        "streaming.add_batch_s" -> batchList.map(_.durations.getOrElse("addBatch", 0L)).sum / 1e3,
        "streaming.offsets_s" -> batchList.map(b => b.durations.getOrElse("latestOffset", 0L) +
          b.durations.getOrElse("getBatch", 0L) + b.durations.getOrElse("walCommit", 0L)).sum / 1e3,
        "streaming.commit_s" -> batchList.map(_.durations.getOrElse("commitOffsets", 0L)).sum / 1e3,
        "streaming.rows" -> batchList.map(_.rows).sum.toDouble) ++ jobsUnder,
      tracedWallS = tracedWall,
      driverOnlyS = driverOnly.values.sum / 1e3,
      jobs = jobList.size,
      stages = jobList.map(_.stages).sum,
      tasks = taskList.size,
      executorRunS = taskList.map(_.runMs).sum / 1e3,
      shuffleBytes = taskList.map(_.shuffleBytes).sum.toDouble)
  }
}

object Tracer {
  final case class JobRec(jobId: Int, parentSpan: Long, batch: Option[(String, Long)],
                          module: String, execution: Option[Long], start: Double,
                          var end: Double, stages: Int)
  final case class TaskRec(jobId: Int, start: Double, end: Double,
                           runMs: Long, shuffleBytes: Long, spillBytes: Long)
  final case class BatchRec(queryId: String, batchId: Long, start: Double,
                            end: Double, durations: Map[String, Long],
                            rows: Long)
  import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Visit every node of an executed plan, through adaptive plans, query
    * stages and command results. */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case q: QueryStageExec        => walk(q.plan)(f)
    case c: CommandResultExec     => f(c); walk(c.commandPhysicalPlan)(f)
    case _                        => f(p); p.children.foreach(walk(_)(f))
  }

  final case class ModuleRow(module: String, selfS: Double, driverOnlyS: Double,
                             jobs: Int, stages: Int, tasks: Int,
                             executorRunS: Double, shuffleBytes: Double,
                             spillBytes: Double)
  final case class Report(modules: Seq[ModuleRow], counters: Map[String, Double],
                          tracedWallS: Double, driverOnlyS: Double, jobs: Int,
                          stages: Int, tasks: Int, executorRunS: Double,
                          shuffleBytes: Double)

  /** graft source file name -> module, from the checkout's source tree. */
  def fileModules(srcRoot: java.io.File): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        .flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
    walk(srcRoot).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = srcRoot.toPath.relativize(f.toPath)
      f.getName -> (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
    }.toMap
  }
}
