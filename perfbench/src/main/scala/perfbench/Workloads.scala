package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Util {
  /** Per-layer row counters of a traced operation's output. */
  def countRows(ctx: Ctx, clean: Long, quarantined: Long, corruptDropped: Long): Unit = {
    ctx.tracer.count("dq.rows_clean", clean)
    ctx.tracer.count("dq.rows_quarantined", quarantined)
    ctx.tracer.count("io.corrupt_rows_dropped", corruptDropped)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run one operation; a throw counts as a failed operation. */
  def attempt(what: String)(body: => Unit): Boolean = Try(body) match {
    case Success(_) => true
    case Failure(e) =>
      System.err.println(s"[perfbench] operation failed: $what: $e")
      false
  }

  def long(n: JsonNode, k: String): Long = n.get(k).asLong()
}

/** Cycles of the config pipeline: load config, run the ingest job, run the
  * maintenance block over the cycle's landed batch, then check outputs.
  * Cycle 0 is cold; later cycles are warm, and state (dedup index, IVM
  * view, profile store, bronze table) grows across them. */
object BatchPipeline {
  import Util._

  private val taskModule = Map("dedup-index" -> "similarity",
    "ivm" -> "transform", "profile" -> "metrics", "compact" -> "lakehouse")

  def run(ctx: Ctx): Main.Outcome = {
    val a = ctx.args
    val tr = ctx.tracer
    val cycles = ctx.expect.get("cycles")
    val warmCycles = a.warmOps
    val walls, tracedWalls, ingestS, maintainS, allWalls = mutable.ArrayBuffer.empty[Double]
    val taskS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var (rows, attempted, failed, landedTotal, firstOp) = (0L, 0, 0, 0L, 0.0)
    // lang -> (rows, score sum) over every landed cycle: the direct
    // recompute the IVM view must equal
    val byLang = mutable.Map.empty[String, (Long, Double)]
    var c = 0
    while (c <= warmCycles) {
      val cc = f"$c%03d"
      val conf = Templates.render(a, "batch.conf", Map("CYCLE" -> cc))
      // trace runs trace the middle warm cycles (Main.tracedOp)
      val traced = a.trace && c > 0 && Main.tracedOp(c - 1, warmCycles)
      tr.on = traced
      val start = System.nanoTime()
      var (ingest, maintain) = (0.0, 0.0)
      tr.span("cycle", "perfbench") {
        val loaded = tr.span("config.load", "config")(Pipeline.load(conf))
        val i0 = System.nanoTime()
        attempted += 1
        if (!attempt(s"ingest cycle $cc")(
              tr.span("job.run", "core")(Pipeline.job(loaded).run(ctx.spark))))
          failed += 1
        ingest = secondsSince(i0)
        loaded.cfg.maintenance.foreach { m =>
          val m0 = System.nanoTime()
          attempted += 1
          if (!attempt(s"${m.`type`} cycle $cc")(tr.span("maintain." + m.`type`,
                taskModule.getOrElse(m.`type`, "core"))(
                graft.core.IngestionRunner.runMaintenance(ctx.spark, m))))
            failed += 1
          if (c > 0) taskS(m.`type`) += secondsSince(m0)
          maintain += secondsSince(m0)
        }
      }
      tr.on = false
      val wall = secondsSince(start)
      allWalls += wall * 1e3
      if (c == 0) firstOp = wall
      else if (traced) tracedWalls += wall
      else {
        walls += wall * 1e3
        ingestS += ingest
        maintainS += maintain
        rows += Util.long(cycles.get(c), "generated")
      }
      landedTotal += checkCycle(ctx, cc, cycles.get(c), landedTotal, byLang, traced)
      if (traced)
        tr.count("lakehouse.bytes_landed", dirBytes(Paths.get(a.work, "bronze", s"cycle=$cc")))
      c += 1
    }
    if (a.trace)
      tr.count("similarity.planted_recall", plantedRecall(ctx, (0 until c).map(cycles.get)))
    Main.Outcome(firstOp, walls.toSeq, rows / ingestS.sum, attempted, failed,
      Map("cycles" -> c.toDouble, "ingest_s_median" -> Main.median(ingestS.toSeq),
        "maintain_s_median" -> Main.median(maintainS.toSeq),
        "traced_op_ms_median" -> Main.median(tracedWalls.map(_ * 1e3).toSeq)) ++
        taskS.map { case (k, v) => s"$k.s_per_cycle" -> v / math.max(1, c - 1) },
      Map("cycle_ms" -> allWalls.toSeq))
  }

  private def dirBytes(dir: Path): Double =
    Files.walk(dir).iterator().asScala.filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith(".")).map(Files.size(_).toDouble).sum

  /** Share of the planted near-duplicate pairs that share at least one
    * LSH band in the dedup index (a candidate pair the index would find). */
  private def plantedRecall(ctx: Ctx, cycles: Seq[JsonNode]): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val pairs = cycles.flatMap(_.get("near_dup_pairs").asScala
      .map(p => (p.get(0).asLong(), p.get(1).asLong())))
    if (pairs.isEmpty) return 0.0
    val (_, bands) = graft.similarity.DedupIndex.load(spark, s"${ctx.args.work}/dedup-index")
    val id = bands.columns.head
    val found = pairs.toDF("a", "b")
      .join(bands.select(col(id).as("a"), col("band")), "a")
      .join(bands.select(col(id).as("b"), col("band")), Seq("b", "band"))
      .select("a", "b").distinct().count()
    found.toDouble / pairs.size
  }

  /** Output checks of one cycle; returns the cycle's landed row count. */
  private def checkCycle(ctx: Ctx, cc: String, exp: JsonNode, landedBefore: Long,
                         byLang: mutable.Map[String, (Long, Double)],
                         traced: Boolean): Long = {
    val spark = ctx.spark
    val ck = ctx.checks
    val work = ctx.args.work
    // one pass over the cycle's landed partition; a doc_id duplicated
    // across rows keeps its lang, so per-lang distinct counts add up
    val langs = spark.read.parquet(s"$work/bronze/cycle=$cc").groupBy("lang")
      .agg(count(lit(1)), countDistinct(col("doc_id")),
        coalesce(sum(col("doc_id")), lit(0L)), sum(col("score")),
        sum(when(col("author_email").contains("@"), 1L).otherwise(0L))).collect()
    def total(i: Int) = langs.map(_.getLong(i)).sum
    val quarantine = spark.read.parquet(s"$work/quarantine/cycle=$cc")
    val q = quarantine.agg(count(lit(1)), count(col("doc_id")),
      coalesce(sum(col("doc_id")), lit(0L)),
      count(col("_corrupt_record"))).head()
    val (landed, quarantined, corruptQuarantined) = (total(1), q.getLong(0), q.getLong(3))
    val malformed = Util.long(exp, "malformed")
    val violators = Seq("null_doc_id", "bad_lang", "bad_score").map(Util.long(exp, _)).sum
    ck.equal("batch.landed_rows", Util.long(exp, "landed"), landed)
    ck.equal("batch.landed_distinct_ids", Util.long(exp, "landed"), total(2))
    ck.equal("batch.landed_id_sum", Util.long(exp, "landed_id_sum"), total(3))
    // malformed lines either reach quarantine (as _corrupt_record rows) or
    // are dropped by the retention filter (null event time); both are
    // accounted for, and nothing else may go missing
    ck.check("batch.quarantined_rows", violators)(e =>
      quarantined == e + corruptQuarantined &&
        (corruptQuarantined == 0 || corruptQuarantined == malformed))
    ck.equal("batch.quarantined_id_sum", Util.long(exp, "quarantined_id_sum"), q.getLong(2))
    ck.check("batch.conservation", Util.long(exp, "generated"))(g =>
      landed + quarantined + Util.long(exp, "expired") +
        (malformed - corruptQuarantined) == g)
    ck.equal("batch.pii_masked", 0L, total(5))
    // IVM view = a direct recompute over the bronze table, accumulated
    // one landed partition at a time
    langs.foreach { r =>
      val (n, sc) = byLang.getOrElse(r.getString(0), (0L, 0.0))
      byLang(r.getString(0)) = (n + r.getLong(1), sc + r.getDouble(4))
    }
    val view = spark.read.parquet(s"$work/view").collect()
      .map(r => r.getAs[String]("lang") -> (r.getAs[Long]("n_rows"), r.getAs[Double]("score"))).toMap
    val direct = byLang.toMap
    val mismatched = (view.keySet ++ direct.keySet).count { k =>
      (view.get(k), direct.get(k)) match {
        case (Some((n1, s1)), Some((n2, s2))) =>
          n1 != n2 || math.abs(s1 - s2) > 1e-6 * math.max(1.0, math.abs(s2))
        case _ => true
      }
    }
    ck.equal("batch.ivm_view", 0L, mismatched.toLong)
    val profiled = graft.metrics.ProfileStore.current(spark, s"$work/profiles")
      .filter(col("column") === "doc_id").select("n_rows").head().getLong(0)
    ck.equal("batch.profile_rows", landedBefore + landed, profiled)
    if (traced) countRows(ctx, landed, quarantined, malformed - corruptQuarantined)
    landed
  }
}

/** The ingest job as a file stream. (a) Open loop: one generator thread
  * moves pre-generated files into the watched directory on a fixed
  * schedule; a file's latency runs from its due time to the commit of the
  * micro-batch that read it (file -> batch from the checkpoint's source
  * log, commit time from its commit log). (b) Drain: a pre-dropped
  * backlog read one file per trigger. */
object StreamIngest {
  import Util._

  final case class Moved(name: String, due: Double, at: Double, exp: JsonNode)

  def run(ctx: Ctx): Main.Outcome = {
    val a = ctx.args
    val e = ctx.expect
    val rate = e.get("rate_files_s").asDouble()
    val warm = e.get("warm_files").asInt()
    val open = e.get("open").asScala.toSeq
    val drainFiles = e.get("drain").asScala.toSeq
    val measureFiles = a.warmOps
    val (moved, openOk) = openLoop(ctx, open.take(warm + measureFiles), rate, warm)
    checkLanded(ctx, "open", moved.map(_.exp))
    val lat = latencies(ctx, "open", moved)
    val (tracedFiles, untracedFiles) = moved.drop(warm).zipWithIndex
      .partition { case (_, i) => a.trace && Main.tracedOp(i, measureFiles) }
    val untracedLat = untracedFiles.flatMap(m => lat.get(m._1.name).map(_._1))
    val tracedLat = tracedFiles.flatMap(m => lat.get(m._1.name).map(_._1))
    val (batchS, fileRows, drainS, drainOk) = drain(ctx, drainFiles)
    val allOk = openOk && drainOk
    val late = moved.map(m => m.at - m.due)
    val waits = moved.drop(warm).flatMap(m => lat.get(m.name).map(_._2))
    Main.Outcome(
      firstOpS = lat.get(moved.head.name).map(_._1 / 1e3).getOrElse(Double.NaN),
      opMs = untracedLat, throughput = fileRows / batchS,
      attempted = 2 + moved.size + drainFiles.size,
      failed = (if (allOk) 0 else 1) + moved.count(m => !lat.contains(m.name)),
      extra = Map("files_measured" -> untracedLat.size.toDouble,
        "gen_late_ms_max" -> late.max, "gen_late_ms_median" -> Main.median(late),
        "queue_wait_ms_median" -> Main.median(waits),
        "traced_op_ms_median" -> Main.median(tracedLat),
        "drain_s" -> drainS, "drain_batch_s_median" -> batchS, "rate_rows_s" -> rate * Util.long(open.head, "generated")),
      Map("latency_ms" -> untracedLat))
  }

  private def startQuery(ctx: Ctx, phase: String, maxFiles: Int) = {
    val conf = Templates.render(ctx.args, "stream.conf",
      Map("PHASE" -> phase, "MAX_FILES" -> maxFiles.toString))
    Files.createDirectories(Paths.get(ctx.args.work, phase, "watched"))
    Pipeline.job(Pipeline.load(conf)).run(ctx.spark).streamingQuery.get
  }

  private def move(ctx: Ctx, phase: String, file: String): Unit =
    Files.move(Paths.get(ctx.args.inputs, "stage", phase, file),
      Paths.get(ctx.args.work, phase, "watched", file),
      StandardCopyOption.ATOMIC_MOVE)

  private def openLoop(ctx: Ctx, files: Seq[JsonNode], rate: Double,
                       warm: Int): (Seq[Moved], Boolean) = {
    val tr = ctx.tracer
    val q = startQuery(ctx, "open", 100000)
    val moved = mutable.ArrayBuffer.empty[Moved]
    // one generator thread; its schedule never waits for the engine
    def schedule(fs: Seq[JsonNode], onFile: Int => Unit): Double = {
      val t0 = Clock.ms
      val gen = new Thread(() => fs.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + i * 1e3 / rate
        val wait = due - Clock.ms
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        onFile(i)
        val name = f.get("file").asText()
        move(ctx, "open", name)
        moved.synchronized(moved += Moved(name, due, Clock.ms, f))
      })
      gen.start()
      gen.join()
      t0
    }
    // warm-up files on the same schedule, then let the cold stream catch
    // up, so the measured schedule starts on a warm, idle stream
    schedule(files.take(warm), _ => ())
    val warmOk = attempt("open-loop warm-up")(q.processAllAvailable())
    val n = files.size - warm
    val traced = (0 until n).filter(i => ctx.args.trace && Main.tracedOp(i, n))
    val t0 = schedule(files.drop(warm), i => if (ctx.args.trace) tr.on = traced.contains(i))
    val ok = attempt("open-loop stream")(q.processAllAvailable())
    q.stop()
    if (ctx.args.trace) {
      tr.on = false
      tr.adoptQuery(q.id.toString,
        // open-loop time with no micro-batch running is the stream waiting
        // for files, not engine work
        tr.rootSpan("stream.open", "idle", t0 + traced.head * 1e3 / rate,
          t0 + (traced.last + 1) * 1e3 / rate))
      tr.count("streaming.files", traced.size)
    }
    (moved.toSeq, warmOk && ok)
  }

  /** (latency ms, queue wait ms) per file name: due time -> commit of its
    * micro-batch, and due time -> that batch's offset-log write. */
  private def latencies(ctx: Ctx, phase: String,
                        moved: Seq[Moved]): Map[String, (Double, Double)] = {
    val cp = Paths.get(ctx.args.work, phase, "checkpoint")
    val batchOf = sourceLog(cp)
    ctx.checks.equal(s"stream.$phase.files_in_one_batch", moved.size.toLong,
      moved.count(m => batchOf.get(m.name).exists(_.size == 1)).toLong)
    def mtime(p: Path): Option[Double] =
      if (Files.exists(p)) Some(Files.getLastModifiedTime(p)
        .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e3) else None
    moved.flatMap { m =>
      for {
        bs <- batchOf.get(m.name)
        b = bs.head
        commit <- mtime(cp.resolve("commits").resolve(b.toString))
        offsets <- mtime(cp.resolve("offsets").resolve(b.toString))
      } yield m.name -> (commit - m.due, offsets - m.due)
    }.toMap
  }

  /** file name -> the micro-batch ids whose source log lists it. */
  private def sourceLog(cp: Path): Map[String, Set[Long]] = {
    val dir = cp.resolve("sources").resolve("0")
    val entries = Files.list(dir).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .filter(_.startsWith("{"))
      .map { l =>
        val n = Main.json.readTree(l)
        Paths.get(new java.net.URI(n.get("path").asText())).getFileName.toString ->
          n.get("batchId").asLong()
      }
    entries.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).toSet }
  }

  /** (median seconds per one-file batch, rows per file, drain wall, ok). */
  private def drain(ctx: Ctx, files: Seq[JsonNode]): (Double, Double, Double, Boolean) = {
    val tr = ctx.tracer
    // trace runs: an untraced drain of the first half, a traced drain of
    // the second; plain runs drain the whole backlog once
    val parts =
      if (ctx.args.trace) Seq("drain" -> files.take(files.size / 2), "drain-traced" -> files.drop(files.size / 2))
      else Seq("drain" -> files)
    var result = (0.0, 0.0, 0.0, true)
    parts.foreach { case (phase, fs) =>
      Files.createDirectories(Paths.get(ctx.args.work, phase, "watched"))
      fs.foreach(f => Files.move(
        Paths.get(ctx.args.inputs, "stage", "drain", f.get("file").asText()),
        Paths.get(ctx.args.work, phase, "watched", f.get("file").asText()),
        StandardCopyOption.ATOMIC_MOVE))
      val traced = phase == "drain-traced"
      tr.on = traced
      val t0 = System.nanoTime()
      val s0 = Clock.ms
      val q = startQuery(ctx, phase, 1)
      val ok = attempt(s"$phase stream")(q.processAllAvailable())
      val wall = secondsSince(t0)
      if (traced) {
        tr.adoptQuery(q.id.toString, tr.rootSpan("stream.drain", "streaming", s0, Clock.ms))
        tr.count("streaming.files", fs.size)
      }
      q.stop()
      tr.on = false
      checkLanded(ctx, phase, fs)
      // back-to-back one-file batches: the median gap between consecutive
      // commits is the per-batch cost, robust to a stall in one batch
      val commits = commitTimes(Paths.get(ctx.args.work, phase, "checkpoint"))
      val gaps = commits.zip(commits.drop(1)).map { case (x, y) => (y - x) / 1e3 }
      val rowsPerFile = fs.map(Util.long(_, "generated")).sum.toDouble / fs.size
      if (!traced) result = (Main.median(gaps), rowsPerFile, wall, ok && gaps.nonEmpty)
      else result = result.copy(_4 = result._4 && ok)
    }
    result
  }

  /** Commit times (epoch ms) of a checkpoint's micro-batches, in batch order. */
  private def commitTimes(cp: Path): Seq[Double] =
    Files.list(cp.resolve("commits")).iterator().asScala.toSeq
      .flatMap(p => scala.util.Try(p.getFileName.toString.toLong).toOption.map(_ -> p))
      .sortBy(_._1)
      .map(x => Files.getLastModifiedTime(x._2)
        .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e3)

  /** Exactly once: every generated row of `files` lands or is quarantined
    * once, no doc_id missing or duplicated. */
  def checkLanded(ctx: Ctx, phase: String, files: Seq[JsonNode]): Unit = {
    val spark = ctx.spark
    val ck = ctx.checks
    def sumOf(k: String) = files.map(Util.long(_, k)).sum
    val l = spark.read.parquet(s"${ctx.args.work}/$phase/bronze")
      .agg(count(lit(1)), countDistinct(col("doc_id")),
        coalesce(sum(col("doc_id")), lit(0L))).head()
    val q = spark.read.parquet(s"${ctx.args.work}/$phase/quarantine")
      .agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
        count(col("_corrupt_record"))).head()
    ck.equal(s"stream.$phase.landed_rows", sumOf("landed"), l.getLong(0))
    ck.equal(s"stream.$phase.landed_distinct_ids", sumOf("landed"), l.getLong(1))
    ck.equal(s"stream.$phase.landed_id_sum", sumOf("landed_id_sum"), l.getLong(2))
    val violators = Seq("null_doc_id", "bad_lang", "bad_score").map(sumOf).sum
    val corrupt = q.getLong(2)
    ck.check(s"stream.$phase.quarantined_rows", violators)(e =>
      q.getLong(0) == e + corrupt && (corrupt == 0 || corrupt == sumOf("malformed")))
    ck.equal(s"stream.$phase.quarantined_id_sum", sumOf("quarantined_id_sum"), q.getLong(1))
    if (phase == "drain-traced")
      countRows(ctx, l.getLong(0), q.getLong(0), sumOf("malformed") - corrupt)
  }
}

/** A fixed systematic sample of `SparkEntry.queries` over the checked-in
  * sf0.001 tables, run in the seed's order: each query is built
  * (`fn(spark, sf)`), planned (`executedPlan`) and executed (`count()`).
  * Pass 0 is cold; warm passes repeat until the run's seconds are spent. */
object QueryStratum {
  import Util._

  def run(ctx: Ctx): Main.Outcome = {
    val a = ctx.args
    val tr = ctx.tracer
    val sf = Paths.get(a.bench, "data", "sf0.001").toString
    val order = ctx.expect.get("order").asScala.map(_.asText()).toSeq
    val expected = Files.readAllLines(Paths.get(a.bench, "data", "query_counts.tsv"))
      .asScala.filterNot(_.startsWith("#")).map(_.split("\t"))
      .map(p => p(0) -> p(1).toLong).toMap
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls, tracedWalls = mutable.ArrayBuffer.empty[Double]
    var (attempted, failed, firstOp) = (0, 0, 0.0)
    val warmPasses = a.warmOps
    var pass = 0
    while (pass <= warmPasses) {
      val traced = a.trace && pass > 0 && Main.tracedOp(pass - 1, warmPasses)
      tr.on = traced
      val p0 = System.nanoTime()
      order.foreach { name =>
        val q0 = System.nanoTime()
        var rows = -1L
        attempted += 1
        if (!attempt(name)(tr.span("query", "queries") {
              val df: DataFrame = tr.span("query.build", "queries")(
                graft.SparkEntry.queries(name)(ctx.spark, sf))
              tr.span("query.plan", "queries")(df.queryExecution.executedPlan)
              rows = tr.span("query.exec", "queries")(df.count())
            })) failed += 1
        val ms = (System.nanoTime() - q0) / 1e6
        if (pass > 0 && !traced) perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
        tr.on = false
        ctx.checks.equal(s"query.$name.rows", expected.getOrElse(name, -2L), rows)
        tr.on = traced
      }
      tr.on = false
      val wall = secondsSince(p0)
      if (pass == 0) firstOp = wall
      else if (traced) tracedWalls += wall
      else passWalls += wall
      pass += 1
    }
    Main.Outcome(firstOp, perQuery.values.flatten.toSeq,
      order.size * passWalls.size / passWalls.sum, attempted, failed,
      Map("passes" -> pass.toDouble, "queries" -> order.size.toDouble,
        "pass_s_median" -> Main.median(passWalls.toSeq),
        "traced_pass_s_median" -> Main.median(tracedWalls.toSeq)),
      perQuery.map { case (n, ws) => n -> ws.toSeq }.toMap)
  }
}
