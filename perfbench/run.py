#!/usr/bin/env python3
"""Run one perfbench workload against the graft engine in this checkout.

    python3 perfbench/run.py --workload batch_pipeline --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
generates the seed's inputs in an untimed step, runs the workload in one
JVM on local[nproc], checks every output, prints a human report and, as
the last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. `--trace 1` reports the per-layer metrics and the per-module
self-time table instead of the end-to-end metrics. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("batch_pipeline", "stream_ingest", "query_stratum")
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark 4 on JDK 17 outside spark-submit (matches the engine build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Warm operations per run second on a 4-core box. The count of timed
# operations is fixed from --seconds, never from elapsed time, so a slow
# run times the same cycles / passes / files as a fast one.
SECONDS_PER_WARM_OP = {
    "batch_pipeline": 4.0,                            # one pipeline cycle
    "query_stratum": 3.5,                             # one pass over the sample
    "stream_ingest": 2.0 / gen.STREAM_RATE_FILES_S,   # open loop: half the seconds
}
# query_stratum: a fixed 1-in-QUERY_STRIDE systematic sample of the declared
# queries in name order, so every seed times the same work
QUERY_STRIDE, QUERY_OFFSET = 50, 2

END_TO_END = [("setup_s", "s"), ("first_op_s", "s"), ("op_p50_ms", "ms"),
              ("throughput_per_s", "1/s")]
MODULES = ["config", "core", "io", "schema", "dq", "lakehouse", "similarity",
           "transform", "metrics", "streaming", "queries", "functions",
           "plans", "text", "multimodal", "tables", "graft", "spark",
           "perfbench", "idle"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main", "verify")]
    tops += [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """sbt compile of engine + harness; cached by a stamp of the sources."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail(3, "sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(3, f"build timed out; see {log}")
    if r.returncode != 0:
        fail(3, f"build failed; see {log}")
    with open(log) as f:
        cps = [l.strip() for l in f if ".jar" in l and ":" in l and not l.startswith("[")]
    if not cps:
        fail(3, f"no classpath in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def warm_ops(args):
    if args.tiny:
        return 3
    return max(3, round(args.seconds / SECONDS_PER_WARM_OP[args.workload]))


def declared_queries():
    with open(os.path.join(HERE, "data", "query_counts.tsv")) as f:
        names = [l.split("\t")[0] for l in f if not l.startswith("#")]
    return [n for i, n in enumerate(sorted(names)) if i % QUERY_STRIDE == QUERY_OFFSET]


class LoadSampler(threading.Thread):
    """1-minute load average before, during (max) and after the run."""

    def __init__(self):
        super().__init__(daemon=True)
        self.stop = threading.Event()
        self.before = self.read()
        self.max = self.before

    @staticmethod
    def read():
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])

    def run(self):
        while not self.stop.wait(0.5):
            self.max = max(self.max, self.read())


def run_jvm(cp, args, cores, inputs, work, result):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--warm-ops", str(warm_ops(args)), "--trace", str(args.trace),
            "--inputs", inputs, "--work", os.path.join(work, "out"),
            "--bench", HERE, "--src", os.path.join(ROOT, "src", "main", "scala", "graft"),
            "--cores", str(cores), "--result", result,
            "--wrong", "1" if args.wrong else "0"]
    log = os.path.join(BUILD, f"jvm-{args.workload}-{args.seed}-{args.trace}.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)

        def stop(signum, frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        # a benchmark stopped from outside stops its JVM too
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = -9
    return code, log


def per_layer(res):
    """The --trace 1 metrics, from the traced operations of the run."""
    tr = res["trace_report"]
    c = tr["counters"]
    wall = tr["tracedWallS"]
    ex = res["extra"]
    untraced = res["end_to_end"]["op_p50_ms"]
    traced = ex.get("traced_op_ms_median", ex.get("traced_pass_s_median", float("nan")))
    if res["workload"] == "query_stratum":
        untraced = ex["pass_s_median"]
    m = {
        "trace.overhead_frac": (traced / untraced - 1, "fraction", "lower"),
        "trace.wall_s": (wall, "s", "lower"),
        "spark.driver_only_s": (tr["driverOnlyS"], "s", "lower"),
        "spark.executor_run_s": (tr["executorRunS"], "s", "lower"),
        "spark.jobs": (tr["jobs"], "count", "lower"),
        "spark.stages": (tr["stages"], "count", "lower"),
        "spark.tasks": (tr["tasks"], "count", "lower"),
        "spark.shuffle_bytes": (tr["shuffleBytes"], "bytes", "lower"),
        "spark.spill_bytes": (sum(r["spillBytes"] for r in tr["modules"]), "bytes", "lower"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB", "lower"),
        "io.rows_read": (c.get("io.rows_read", 0), "rows", "lower"),
        "io.bytes_read": (c.get("io.bytes_read", 0), "bytes", "lower"),
        "io.files_read": (c.get("io.files_read", 0), "count", "lower"),
        "io.corrupt_rows_dropped": (c.get("io.corrupt_rows_dropped", 0), "rows", "lower"),
        "lakehouse.files_written": (c.get("lakehouse.files_written", 0), "count", "lower"),
        "lakehouse.bytes_written": (c.get("lakehouse.bytes_written", 0), "bytes", "lower"),
        "lakehouse.write_amp": (c["lakehouse.bytes_written"] / c["lakehouse.bytes_landed"]
                                if c.get("lakehouse.bytes_landed") else 0, "ratio", "lower"),
        "dq.rows_clean": (c.get("dq.rows_clean", 0), "rows", "higher"),
        "dq.rows_quarantined": (c.get("dq.rows_quarantined", 0), "rows", "lower"),
        "similarity.planted_recall": (c.get("similarity.planted_recall", 0), "ratio", "higher"),
        "streaming.batches": (c.get("streaming.batches", 0), "count", "lower"),
        "streaming.files_per_batch": (c.get("streaming.files", 0) / c["streaming.batches"]
                                      if c.get("streaming.batches") else 0, "ratio", "higher"),
        "queries.jobs_build": (c.get("jobs_under.query.build", 0), "count", "lower"),
        "queries.jobs_exec": (c.get("jobs_under.query.exec", 0), "count", "lower"),
    }
    rows = {r["module"]: r for r in tr["modules"]}
    for mod in MODULES:
        r = rows.get(mod, {})
        m[f"{mod}.self_pct"] = (100 * r.get("selfS", 0) / wall if wall else 0, "%", "lower")
        m[f"{mod}.spark_jobs"] = (r.get("jobs", 0), "count", "lower")
    return m


def report(res, args, load):
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    print("box: " + json.dumps(dict(res["box"], load_1m_before=load.before,
                                     load_1m_after=load.read(), load_1m_max=load.max)))
    e = res["end_to_end"]
    for name, unit in END_TO_END:
        print(f"  {name:<20} {float(e[name]):>14.4f} {unit}")
    tail = res.get("op_tail")
    print(f"  op samples {res['op_samples']}; tail: " +
          (f"p{tail['percentile']} = {tail['ms']:.1f} ms" if tail else "n/a (under 20 samples)"))
    print("  ops_failed_frac      %14.4f fraction (%d of %d)" % (
        res["failed"] / res["attempted"], res["failed"], res["attempted"]))
    print("  extra: " + json.dumps(res["extra"], sort_keys=True))
    if res["failed_checks"]:
        print("  failed checks: " + ", ".join(sorted(set(res["failed_checks"]))))
    tr = res.get("trace_report")
    if tr:
        print("  per-module self time over traced operations "
              f"(traced wall {tr['tracedWallS']:.3f} s):")
        print(f"    {'module':<12}{'self_s':>9}{'driver_only_s':>15}{'jobs':>7}"
              f"{'stages':>8}{'tasks':>7}{'exec_run_s':>11}{'shuffle_B':>12}")
        for r in sorted(tr["modules"], key=lambda r: -r["selfS"]):
            print(f"    {r['module']:<12}{r['selfS']:>9.3f}{r['driverOnlyS']:>15.3f}"
                  f"{r['jobs']:>7}{r['stages']:>8}{r['tasks']:>7}"
                  f"{r['executorRunS']:>11.3f}{r['shuffleBytes']:>12.0f}")
        total = sum(r["selfS"] for r in tr["modules"])
        print(f"    {'total':<12}{total:>9.3f}{tr['driverOnlyS']:>15.3f}")
        o = per_layer(res)["trace.overhead_frac"][0]
        print(f"  module self times add up to the traced wall {total:.3f} s; the same "
              f"operations untraced take about {total / (1 + o):.3f} s "
              f"(tracing overhead {o:+.1%}, from matched traced/untraced operations)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--wrong", action="store_true",
                    help="smoke test: feed every output check a wrong expectation")
    ap.add_argument("--tiny", action="store_true", help="smoke test: tiny inputs")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, f"no graft engine sources under {ROOT}")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    if args.tiny:
        gen.shrink()
    gen.generate(args.workload, inputs, args.seed, declared_queries(), warm_ops(args))
    result = os.path.join(run_dir, "result.json")
    load = LoadSampler()
    load.start()
    try:
        code, log = run_jvm(cp, args, cores, inputs, run_dir, result)
    finally:
        load.stop.set()
        load.join()
    if code != 0 or not os.path.exists(result):
        fail(4, f"benchmark JVM exited with {code}; see {log}")
    with open(result) as f:
        res = json.load(f)
    shutil.copy(result, os.path.join(
        BUILD, f"result-{args.workload}-{args.seed}-{args.trace}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    report(res, args, load)
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in per_layer(res).items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
