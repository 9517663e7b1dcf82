package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong
import scala.util.{Failure, Success, Try}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Times every declared query (median of 3) at one scale factor and
  * records its deterministic counters: shuffle/spill bytes, Spark jobs and
  * stages, and the time spent building `fn(spark, sf)`.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=4 sbt "runMain graft.Bench"
  *   SPARK_GRAFT_ONLY=q349,q348      restricts the set (prefix match)
  *   SPARK_GRAFT_PLANS_DIR=plans/r12 SPARK_GRAFT_PLAN_TAG=before
  *                                   dumps plans/r12/<query>_before.txt
  *   SPARK_GRAFT_PLANS_ONLY=1        dumps the plans and times nothing
  */
object Bench {
  private val json = new ObjectMapper()
  /** A record number: NaN (an unavailable load average) is written null. */
  private def num(d: Double): java.lang.Double =
    if (d.isNaN) null else java.lang.Double.valueOf(d)

  /** Accumulates per-task shuffle read/write and spill bytes, jobs and
    * completed stages across the whole app; per-query numbers are deltas
    * between snapshots. Wall-time at sf0.1 swings up to 4x run-to-run on a
    * shared box; these counters are deterministic, so they are the signal
    * a plan-regression gate can actually trust (tools/bench_compare.py
    * fails a round on a >1.5x shuffle-bytes, job or stage regression). */
  private final class Counters extends SparkListener {
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spillMem = new AtomicLong
    val spillDisk = new AtomicLong
    val jobs = new AtomicLong
    val stages = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
      }
    }
    def snapshot(): Seq[Long] = Seq(shuffleRead.get, shuffleWrite.get,
      spillMem.get, spillDisk.get, jobs.get, stages.get)
    /** Listener events post asynchronously; after an action returns, poll
      * until the counters are stable across two 50ms windows (bounded) so
      * the delta attributes to the query that just ran. */
    def drainedSnapshot(): Seq[Long] = {
      var prev = snapshot()
      var i = 0
      while (i < 40) {
        Thread.sleep(50)
        val cur = snapshot()
        if (cur == prev) return cur
        prev = cur
        i += 1
      }
      prev
    }
  }

  /** 1-minute load average from /proc/loadavg (NaN where unavailable) —
    * recorded into the bench JSON so a co-tenant-contaminated wall-clock
    * record is visibly contaminated (r8: the driver recorded 41.6 s for a
    * query that measures 1.68 s on the same HEAD; bytes were identical,
    * so only box load could explain it — now the record says so itself). */
  private def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Pre-flight co-tenancy guard: wall-clock medians are only
    // trustworthy from a quiet box (r9: a 6.7 load turned a 1.96s query
    // into an 8.6s record with byte-identical plans). If the 1-min load
    // is above the gate, wait — bounded — for it to drain before
    // measuring; the record carries the gate, how long it waited, and
    // the load the run actually started at, so a still-contaminated
    // record indicts itself. Override via SPARK_GRAFT_LOAD_GATE /
    // SPARK_GRAFT_LOAD_WAIT_S; gate <= 0 disables.
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "4.0").toDouble
    val maxWaitS = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_S", "300").toLong
    val waitStart = System.nanoTime()
    while (loadGate > 0 && loadAvg1m() > loadGate &&
           (System.nanoTime() - waitStart) / 1e9 < maxWaitS)
      Thread.sleep(10000)
    val preflightWaitS =
      math.rint((System.nanoTime() - waitStart) / 1e9 * 10) / 10
    val loadBefore = loadAvg1m()
    // sample the max 1-min load DURING the run (daemon thread, 5s cadence):
    // the before/after points can both miss a mid-run co-tenant spike
    val loadMax = new java.util.concurrent.atomic.AtomicLong(
      java.lang.Double.doubleToLongBits(loadBefore))
    val sampler = new Thread(() => {
      while (true) {
        Thread.sleep(5000)
        val l = loadAvg1m()
        var done = false
        while (!done) {
          val cur = loadMax.get()
          done = !(l > java.lang.Double.longBitsToDouble(cur)) ||
            loadMax.compareAndSet(cur, java.lang.Double.doubleToLongBits(l))
        }
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt, "graft-bench")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    // SPARK_GRAFT_ONLY=q226,q283 restricts the set — dev-loop convenience
    // mirroring Verify; unset, every declared query is timed.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val chosen = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    // Plan dump for the round record: `explain` never executes, so it runs
    // before the warmup; SPARK_GRAFT_PLANS_ONLY=1 captures plans in bulk
    // without a bench-length wait.
    sys.env.get("SPARK_GRAFT_PLANS_DIR").foreach { d =>
      val dir = java.nio.file.Paths.get(d)
      val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
      java.nio.file.Files.createDirectories(dir)
      chosen.foreach { case (name, fn) =>
        val txt = Try(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
          .getOrElse("explain failed")
        java.nio.file.Files.writeString(dir.resolve(s"${name}_$tag.txt"), txt)
      }
    }
    if (sys.env.get("SPARK_GRAFT_PLANS_ONLY").contains("1")) {
      spark.stop()
      return
    }
    // Untimed warmup: JIT/codegen/session init + parquet footers, so the
    // first measured query isn't charged for cold-start; a warmup failure
    // is a harness bug and must be visible, not swallowed.
    Seq("lineitem", "orders", "documents", "embeddings", "events").foreach(t =>
      tables.Tables.load(spark, sfDir, t).count())
    // ...and one composite untimed pipeline: scan → regex normalize → md5 →
    // hash aggregate → join → window → sort. Counts alone leave the common
    // operator kernels un-JITed, so whichever query ran FIRST was charged
    // seconds of Janino/C2 compilation (r4 recorded q44 at 9.2s first
    // sample vs 0.21s steady — a 44x artifact spread, not a plan cost).
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val docs = tables.Tables.documents(spark, sfDir).limit(2000)
      val norm = docs.select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "[^\\p{L}\\p{Nd} ]", " ")).as("h"))
      norm.groupBy(col("h"))
        .agg(count(lit(1)).as("c"), min(col("doc_id")).as("doc_id"))
        .join(docs, "doc_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("c")).orderBy(col("doc_id"))))
        .orderBy(col("doc_id")).count()
    }
    // median-of-3: the first execution pays one-off plan compilation + JIT
    // (constant at any data scale) and a single noisy slot (another tenant
    // on the box) can swing one run 4x — the median ignores one outlier in
    // either direction, which best-of-N cannot. min/max are kept in the
    // full artifact so a noisy session is visible in the record itself.
    // Shuffle/spill bytes, job and stage counts and the build time are
    // measured on the last run only (the counters are plan-deterministic,
    // identical across runs).
    // A query that throws is recorded as an error entry — never as a time.
    // Per-query record. `load1m` is the max 1-min loadavg sampled at each
    // run's bracket (2 reads per run): the pre-flight guard only protects
    // the START of the run, so a mid-run co-tenant (r10: scattered
    // plan-uncorrelated wall inflation on byte-identical plans) must show
    // up IN the per-query record, not in a post-hoc adjudication.
    // `tRequiet`/`loadRequiet`: a second timing taken after the loaded
    // queries were re-run behind a fresh quiet-wait — the original `t`
    // stays untouched (first record kept), the re-run column is what
    // makes a contaminated record's headline trustworthy.
    final case class QRes(med: Double, mn: Double, mx: Double, n: Int,
                          counts: Seq[Long], buildS: Double, load1m: Double,
                          tRequiet: Option[Double] = None,
                          loadRequiet: Option[Double] = None)
    /** One run: its wall (build + count) or its error, the build time
      * alone, and the max 1-min load at its bracket. */
    def timeOnce(fn: (SparkSession, String) => DataFrame)
        : (Either[String, Double], Double, Double) = {
      val l0 = loadAvg1m()
      val t0 = System.nanoTime()
      var buildS = Double.NaN
      val r = Try {
        val df = fn(spark, sfDir)
        buildS = (System.nanoTime() - t0) / 1e9
        df.count()
      } match {
        case Success(_)  => Right((System.nanoTime() - t0) / 1e9)
        case Failure(ex) => Left(s"${ex.getClass.getSimpleName}: ${Option(ex.getMessage).getOrElse("").take(200)}")
      }
      val l1 = loadAvg1m()
      (r, buildS, if (l0.isNaN) l1 else if (l1.isNaN) l0 else math.max(l0, l1))
    }
    val measured: Seq[(String, Either[String, QRes])] =
      chosen.map { case (name, fn) =>
        val (r1, _, la1) = timeOnce(fn)
        val (r2, _, la2) = timeOnce(fn)
        // drain the listener queue BEFORE the bracketed run too: task-end
        // events still in flight from run 2 would otherwise inflate run
        // 3's deltas (up to ~2x one run's bytes — enough to falsely trip
        // bench_compare's 1.5x gate)
        val before = counters.drainedSnapshot()
        val (r3, buildS, la3) = timeOnce(fn)
        val delta = counters.drainedSnapshot().zip(before).map(p => p._1 - p._2)
        val runs = Seq(r1, r2, r3)
        val ok = runs.collect { case Right(t) => t }.sorted
        val load = Seq(la1, la2, la3).filterNot(_.isNaN)
          .foldLeft(Double.NaN)((a, b) => if (a.isNaN) b else math.max(a, b))
        // 3 successes -> true median; 2 -> the MIN (median-of-2 has no
        // middle, and picking ok(1) would report the max — the one number
        // a noise-robust summary must never pick); 1 -> that run. n_runs
        // in the artifact records what the number actually is.
        name -> (if (ok.nonEmpty)
                   Right(QRes(if (ok.size == 3) ok(1) else ok.head,
                     ok.head, ok.last, ok.size, delta, buildS, load))
                 else Left(runs.collectFirst { case Left(e) => e }.getOrElse("unknown")))
      }
    // Re-run pass: queries whose runs overlapped concurrent load well
    // above the gate get ONE more timing behind a fresh quiet-wait.
    // Threshold is 1.5x the gate, not the gate itself: the bench's own
    // local[32] execution legitimately pushes the 1-min load a little
    // past the gate on well-parallelized queries, and re-timing
    // self-loaded queries only adds single-run noise. Wall-only — bytes
    // stay from the bracketed run (they are plan-deterministic).
    val flagged = measured.collect {
      case (k, Right(r)) if loadGate > 0 && !r.load1m.isNaN &&
        r.load1m > loadGate * 1.5 => k
    }.toSet
    val results: Seq[(String, Either[String, QRes])] =
      if (flagged.isEmpty) measured
      else {
        val w0 = System.nanoTime()
        while (loadGate > 0 && loadAvg1m() > loadGate &&
               (System.nanoTime() - w0) / 1e9 < maxWaitS)
          Thread.sleep(10000)
        measured.map {
          case (k, Right(r)) if flagged(k) =>
            val (rr, _, la) = timeOnce(SparkEntry.queries(k))
            k -> Right(rr.fold(_ => r,
              t => r.copy(tRequiet = Some(t), loadRequiet = Some(la))))
          case other => other
        }
      }
    val qs = json.createObjectNode()
    results.foreach {
      case (k, Right(r)) =>
        val q = qs.putObject(k).put("t", r.med).put("min", r.mn).put("max", r.mx)
          .put("n_runs", r.n).put("load_1m", num(r.load1m))
        r.tRequiet.foreach(t => q.put("t_requiet", t).put("load_requiet", num(r.loadRequiet.get)))
        q.put("shuffle_read", r.counts(0)).put("shuffle_write", r.counts(1))
          .put("spill_mem", r.counts(2)).put("spill_disk", r.counts(3))
          .put("jobs", r.counts(4)).put("stages", r.counts(5))
          .put("build_s", num(r.buildS))
      case (k, Left(e)) => qs.putObject(k).put("error", e)
    }
    val errors = results.collect { case (k, Left(e)) => k -> e }
    val total = results.collect { case (_, Right(r)) => r.med }.sum
    // the headline with every loaded query's timing replaced by its
    // quiet re-run — equals `value` exactly when nothing was flagged
    val totalRequiet = results.collect {
      case (_, Right(r)) => r.tRequiet.getOrElse(r.med) }.sum
    val totalBytes = results.collect { case (_, Right(r)) => r.counts.take(4) }
      .foldLeft(Seq(0L, 0L, 0L, 0L))((a, b) => a.zip(b).map(p => p._1 + p._2))
    val loadAfter = loadAvg1m()
    val loadPeak = java.lang.Double.longBitsToDouble(loadMax.get())
    // contaminated = the guard gave up waiting AND the run still started
    // (or ran) above the gate — wall-clock numbers in this record are
    // suspect; byte counters remain trustworthy
    val contaminated = loadGate > 0 &&
      (loadBefore > loadGate || loadPeak > loadGate * 2)
    // Headline auto-fallback (r11 verdict task 7): when the record is
    // contaminated (the guard gave up waiting, or a mid-run spike blew
    // past 2x the gate), the defensible headline is the re-quieted total —
    // every loaded query's timing replaced by its quiet re-run. The raw
    // wall sum stays in the record as value_wall, so nothing is hidden;
    // on a quiet box the three numbers coincide.
    val headline = if (contaminated) totalRequiet else total
    def record(queries: JsonNode) = json.createObjectNode().put("metric", "total")
      .put("value", headline).put("unit", "sec").put("timing", "median_of_3")
      .set[ObjectNode]("queries", queries)
    def withLoad(o: ObjectNode) =
      o.put("load_1m_before", num(loadBefore)).put("load_1m_after", num(loadAfter))
        .put("load_1m_max", num(loadPeak)).put("load_gate", num(loadGate))
        .put("preflight_wait_s", preflightWaitS).put("contaminated", contaminated)
        .put("n_requiet", flagged.size).put("value_wall", total)
        .put("value_requiet", totalRequiet).put("sf", sfDir)
    val full = json.writeValueAsString(withLoad(record(qs)
      .put("shuffle_read_total", totalBytes(0)).put("shuffle_write_total", totalBytes(1))
      .put("spill_mem_total", totalBytes(2)).put("spill_disk_total", totalBytes(3))
      .put("n_errors", errors.size)))
    // The full per-query JSON (381 queries) overflows what the driver's
    // stdout capture retains (r5 recorded "parsed": null with only the tail
    // ~80 timings) — so the complete record goes to a FILE artifact, and
    // stdout carries one short parseable line: totals + the slowest 25
    // queries (the ones a perf judge needs), always well under any capture
    // window. target/ is git-ignored; bench_full.json is committed per
    // round as tools/bench_full_r{N}.json by the round bookkeeping.
    val artifact = java.nio.file.Paths.get("target/bench_full.json")
    java.nio.file.Files.createDirectories(artifact.getParent)
    java.nio.file.Files.writeString(artifact, full + "\n")
    val slowest = json.createObjectNode()
    results.collect { case (k, Right(r)) => k -> r.med }.sortBy(-_._2).take(25)
      .foreach { case (k, t) => slowest.put(k, t) }
    val errJson = json.createObjectNode()
    errors.take(10).foreach { case (k, e) => errJson.put(k, e) }
    println(json.writeValueAsString(withLoad(record(slowest)
      .put("n_queries", results.size).put("n_errors", errors.size)
      .set[ObjectNode]("errors", errJson)
      .put("shuffle_write_total", totalBytes(1)).put("spill_disk_total", totalBytes(3)))
      .put("full_json", "target/bench_full.json")))
    spark.stop()
    if (errors.nonEmpty) {
      errors.foreach { case (k, e) => System.err.println(s"[bench] FAILED $k: $e") }
      sys.exit(1)
    }
  }
}
