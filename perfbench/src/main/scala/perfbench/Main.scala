package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, driven from `run.py`, which has
  * already built the engine and generated this seed's inputs. Times the
  * workload with tracing off (`--trace 0`) or on for alternate operations
  * (`--trace 1`), checks every output, and writes the result JSON. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `warmOps`: warm cycles, warm passes or measured stream files — fixed
    * by run.py from `--seconds`, never by elapsed time, so slow and fast
    * runs time the same operations. */
  final case class Args(workload: String, seed: Int, warmOps: Int,
                        trace: Boolean, inputs: String, work: String,
                        bench: String, src: String, cores: Int,
                        result: String, wrong: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toInt, m("warm-ops").toInt,
      m("trace") == "1", m("inputs"), m("work"), m("bench"), m("src"),
      m("cores").toInt, m("result"), m.get("wrong").contains("1"))
  }

  /** What every workload hands back: the end-to-end figures. */
  final case class Outcome(firstOpS: Double, opMs: Seq[Double],
                           throughput: Double, attempted: Int, failed: Int,
                           extra: Map[String, Double] = Map.empty,
                           series: Map[String, Seq[Double]] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val checks = new Checks(args.wrong)
    val conf = Templates.render(args, args.workload match {
      case "stream_ingest" => "stream.conf"
      case _               => "batch.conf"
    }, Map("CYCLE" -> "000", "PHASE" -> "setup", "MAX_FILES" -> "1"))
    // set-up: session start + config/registry load, repeated so the
    // reported figure is a median rather than one cold JVM's first start
    val setups = (0 until 7).map { i =>
      val t0 = System.nanoTime()
      val spark = graft.GraftSession.local(args.cores, "perfbench")
      Pipeline.load(conf)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < 6) spark.stop()
      s
    }
    val spark = SparkSession.active
    val tracer = new Tracer(spark, Tracer.fileModules(new File(args.src)))
    if (args.trace) tracer.install()
    val ctx = Ctx(args, spark, tracer, checks,
      json.readTree(new File(args.inputs, "expect.json")))
    val t0 = System.nanoTime()
    val out =
      try args.workload match {
        case "batch_pipeline" => BatchPipeline.run(ctx)
        case "stream_ingest"  => StreamIngest.run(ctx)
        case "query_stratum"  => QueryStratum.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally tracer.on = false
    val wallS = (System.nanoTime() - t0) / 1e9
    val report = if (args.trace) Some(tracer.report()) else None
    spark.stop()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "attempted" -> (out.attempted + checks.attempted),
      "failed" -> (out.failed + checks.failed),
      "correct" -> (out.failed == 0 && checks.failed == 0),
      "checks" -> checks.checked,
      "failed_checks" -> checks.failures,
      "measured_wall_s" -> wallS,
      "end_to_end" -> Map(
        "setup_s" -> median(setups),
        "first_op_s" -> out.firstOpS,
        "op_p50_ms" -> median(out.opMs),
        "throughput_per_s" -> out.throughput),
      "op_samples" -> out.opMs.size,
      "op_tail" -> tail(out.opMs).map { case (p, v) => Map("percentile" -> p, "ms" -> v) },
      "extra" -> out.extra,
      "series" -> out.series,
      "box" -> Box.describe(spark, args.cores),
      "peak_rss_mb" -> Box.peakRssMb)
    report.foreach(r => result("trace_report") = r)
    Files.writeString(Paths.get(args.result), json.writeValueAsString(result))
  }

  /** Trace runs trace the middle half of the `n` warm operations (op `i`,
    * 0-based): an untraced-traced-traced-untraced layout, so the JIT's
    * warm-up trend biases neither side of the tracing-overhead estimate. */
  def tracedOp(i: Int, n: Int): Boolean = {
    val first = math.max(1, math.round(n / 4.0).toInt)
    i >= first && i < math.max(first + 1, n - first)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest whole percentile with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    (99 to 50 by -1).find(p => s.size - math.ceil(s.size * p / 100.0) >= 10)
      .map(p => p -> s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1)))
  }
}

final case class Ctx(args: Main.Args, spark: SparkSession, tracer: Tracer,
                     checks: Checks, expect: JsonNode)

/** Pipeline configs are `.conf` templates under `perfbench/conf` with
  * `${WORK}`, `${INPUTS}`, `${BENCH}` and per-call placeholders. */
object Templates {
  def render(a: Main.Args, name: String, vars: Map[String, String]): String = {
    val text = Files.readString(Paths.get(a.bench, "conf", name))
    val all = vars ++ Map("WORK" -> a.work, "INPUTS" -> a.inputs, "BENCH" -> a.bench)
    val body = all.foldLeft(text) { case (t, (k, v)) => t.replace("${" + k + "}", v) }
    val out = Paths.get(a.work, "conf", vars.values.mkString("-") + "-" + name)
    Files.createDirectories(out.getParent)
    Files.writeString(out, body)
    out.toString
  }
}

/** The config entry points a spark-submit of the pipeline would call. */
object Pipeline {
  final case class Loaded(cfg: graft.config.PipelineConfig,
                          registry: graft.schema.SchemaRegistry)

  def load(path: String): Loaded = {
    val cfg = graft.config.ConfigLoader.loadFromFile(path)
    Loaded(cfg, new graft.schema.SchemaRegistry(cfg.schemaRegistry.get))
  }

  def job(l: Loaded): graft.core.IngestionJob =
    graft.core.IngestionRunner.buildJob(l.cfg.jobs.head, Some(l.registry))
}

/** Output checks. Each check compares an observed value with what the
  * generator planted; with `wrong` set every expectation is deliberately
  * off by one, which must make every check fail (the smoke test). */
final class Checks(wrong: Boolean) {
  private val failedNames = mutable.ArrayBuffer.empty[String]
  private val names = mutable.LinkedHashSet.empty[String]
  private var n = 0

  def attempted: Int = n
  def failed: Int = failedNames.size
  def failures: Seq[String] = failedNames.toSeq
  def checked: Seq[String] = names.toSeq

  /** `ok(expected)` decides the check against the expectation. */
  def check(name: String, expected: Long)(ok: Long => Boolean): Unit = {
    n += 1
    names += name
    val exp = if (wrong) expected + 1 else expected
    val pass = scala.util.Try(ok(exp)).getOrElse(false)
    if (!pass) {
      failedNames += name
      System.err.println(s"[perfbench] check failed: $name (expected $exp)")
    }
  }

  def equal(name: String, expected: Long, observed: Long): Unit =
    check(name, expected)(_ == observed)
}

object Box {
  def peakRssMb: Double = {
    val status = Files.readAllLines(Paths.get("/proc/self/status"))
    val line = status.toArray.map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def describe(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> s"local[$cores]",
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "spark" -> spark.version,
    "jdk" -> System.getProperty("java.runtime.version"))
}
