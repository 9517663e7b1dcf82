#!/usr/bin/env python3
"""Plan-regression gate over two bench_full artifacts.

Wall-time at sf0.1 swings up to 4x run-to-run on a shared box (r7: q58
1.75s vs 7.42s for the same plan), so this gate compares the
DETERMINISTIC per-query counters instead: shuffle read/write and spill
bytes, and the Spark jobs and stages of the bracketed run. A query whose
shuffle bytes grew >1.5x (above a 16 MiB noise floor), or whose job or
stage count grew >1.5x, almost certainly changed plan shape — fail the
round recording until it is adjudicated.

The summary line also sums `jobs`, `stages` and `build_s` (seconds spent
building the DataFrame, on the driver) over the queries both records
carry without error, old -> new — the one-line effect of a change that
adds or removes Spark jobs (an eager pin is one job at build time).
build_s is wall time: read it with the records' load annotations.

Usage: tools/bench_compare.py OLD.json NEW.json
  exit 0 = no regression; exit 1 = regressions listed on stdout.

OLD may be a pre-r8 artifact (plain  name->seconds  map); byte checks
then skip (nothing to compare) and only error-count is gated. Job and
stage checks skip for a record that lacks the fields (artifacts before
Bench counted them).
"""
import json
import sys

RATIO = 1.5
FLOOR = 16 * 1024 * 1024  # ignore moves below 16 MiB — codegen/broadcast jitter

BYTE_KEYS = ("shuffle_read", "shuffle_write", "spill_disk")
COUNT_KEYS = ("jobs", "stages")  # no floor: one extra job is a plan change


def load(path):
    with open(path) as f:
        return json.load(f)


SUM_KEYS = ("jobs", "stages", "build_s")


def shared_sums(oq, nq):
    """{key: (old_sum, new_sum)} over queries both records carry without
    error; a key counts only where both records have it."""
    sums = {}
    for name in sorted(set(oq) & set(nq)):
        o, n = oq[name], nq[name]
        if not (isinstance(o, dict) and isinstance(n, dict)) \
                or "error" in o or "error" in n:
            continue
        for key in SUM_KEYS:
            if key in o and key in n:
                so, sn = sums.get(key, (0, 0))
                sums[key] = (so + o[key], sn + n[key])
    return sums


def sums_line(sums):
    def fmt(key, v):
        return f"{v:.1f}" if key == "build_s" else f"{v:,}"
    parts = [f"{key} {fmt(key, o)} -> {fmt(key, n)}"
             for key, (o, n) in sums.items()]
    return "; ".join(parts) if parts else "no shared counters"


def main(old_path, new_path):
    old, new = load(old_path), load(new_path)
    oq, nq = old.get("queries", {}), new.get("queries", {})
    failures = []

    n_err_old = old.get("n_errors", 0)
    n_err_new = new.get("n_errors", 0)
    if n_err_new > n_err_old:
        failures.append(f"error count grew {n_err_old} -> {n_err_new}")

    gone = sorted(set(oq) - set(nq))
    if gone:
        failures.append(f"queries disappeared: {', '.join(gone[:10])}"
                        + (f" (+{len(gone) - 10} more)" if len(gone) > 10 else ""))

    suspicious_walltime = []
    for name, rec in sorted(nq.items()):
        if not isinstance(rec, dict) or "error" in rec:
            continue
        old_rec = oq.get(name)
        if not isinstance(old_rec, dict) or "error" in (old_rec or {}):
            continue  # new query or old format: nothing to compare
        plan_moved = False
        for key in BYTE_KEYS + COUNT_KEYS:
            if key not in rec or key not in old_rec:
                continue
            o, n = old_rec[key], rec[key]
            if n > o * RATIO or o > n * RATIO:
                plan_moved = True
            floor = FLOOR if key in BYTE_KEYS else 0
            if n > floor and n > o * RATIO:
                unit = " bytes" if key in BYTE_KEYS else ""
                failures.append(
                    f"{name}: {key} {o:,} -> {n:,}{unit} "
                    f"({n / max(o, 1):.2f}x)")
        # wall-time moved >2x with NO byte/job/stage movement = the co-tenancy
        # signature (r8: driver recorded 41.6s for a 1.68s query, bytes
        # identical) — report it with the QUERY's own concurrent load and
        # its quiet re-run when the record carries them (r11: Bench
        # samples /proc/loadavg per run and re-times loaded queries after
        # a quiet-wait), so the record self-diagnoses; never fail on
        # wall-time alone
        ot, nt = old_rec.get("t"), rec.get("t")
        if (not plan_moved and isinstance(ot, (int, float))
                and isinstance(nt, (int, float)) and ot > 0
                and nt > 1.0 and nt > 2 * ot):
            detail = ""
            if rec.get("load_1m") is not None:
                detail += f", load_1m {rec['load_1m']:.1f}"
            trq = rec.get("t_requiet")
            if isinstance(trq, (int, float)):
                verdict = ("clean" if trq <= 2 * ot else "still slow")
                lrq = rec.get("load_requiet")
                lrq_s = (f", load {lrq:.1f}"
                         if isinstance(lrq, (int, float)) else "")
                detail += f", quiet re-run {trq:.2f}s ({verdict}{lrq_s})"
            suspicious_walltime.append(f"{name}: {ot:.2f}s -> {nt:.2f}s "
                                       f"({nt / ot:.1f}x, counters unchanged"
                                       f"{detail})")

    if new.get("n_requiet", 0):
        wall = new.get("value_wall", new.get("value"))
        print(f"NOTE: {new['n_requiet']} queries ran with concurrent load "
              f"above the gate and were re-timed after a quiet-wait; "
              f"wall total {wall:.1f}s vs re-quiet total "
              f"{new.get('value_requiet'):.1f}s (headline "
              f"{new.get('value'):.1f}s auto-falls back to the re-quiet "
              f"total when the record stamps contaminated). "
              f"The re-run is EVIDENCE, "
              f"not automatically the better number: re-quiet << original "
              f"means the original was load-inflated; re-quiet ~= original "
              f"means the original stands (a single re-run is noisier than "
              f"a median-of-3).")

    if new.get("contaminated") is True:
        print("NOTE: new record stamps contaminated=true — the pre-flight "
              "load guard gave up waiting for a quiet box "
              f"(gate {new.get('load_gate')}, waited "
              f"{new.get('preflight_wait_s')}s, started at load "
              f"{new.get('load_1m_before')}); trust bytes, not wall-time.")

    if suspicious_walltime:
        load_rec = {k: new.get(k) for k in
                    ("load_1m_before", "load_1m_after", "load_1m_max",
                     "load_gate", "preflight_wait_s", "contaminated")
                    if new.get(k) is not None}
        print(f"WALL-TIME OUTLIERS WITHOUT COUNTER MOVEMENT "
              f"({len(suspicious_walltime)}) — likely box co-tenancy; "
              f"new-run load: {load_rec or 'not recorded'}")
        for s in suspicious_walltime[:20]:
            print(f"  {s}")

    shared = sums_line(shared_sums(oq, nq))
    if failures:
        print(f"shared queries: {shared}")
        print(f"BENCH REGRESSION ({len(failures)}):")
        for f in failures:
            print(f"  {f}")
        return 1
    print(f"bench_compare OK: {len(nq)} queries, no byte/job/stage regressions "
          f"vs {old_path}; shared queries: {shared}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
