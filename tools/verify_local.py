#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/verify_local.py [sf_dir] [out_dir]

Assumes `sbt "runMain graft.Verify <sf_dir> <out_dir>"` already wrote
<out_dir>/<query>/ parquet dirs + oracle_sql.json. Registers each testdata
table as a DuckDB view, runs each oracle, and compares: columns sorted by
name, rows sorted by all columns, values compared exactly (floats bitwise).
"""
import sys, json, glob, math, struct
import duckdb
import numpy as np
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

with open(f"{out_dir}/oracle_sql.json") as f:
    oracles = json.load(f)

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, np.ndarray):
        a = a.tolist()
    if isinstance(b, np.ndarray):
        b = b.tolist()
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        # Bit-exact, matching the driver's hash gate: -0.0 != 0.0 here
        # (python's == says they're equal, which masked the r5 q104/q231
        # driver failures — see VERDICT.md round 5 "What's wrong" #2).
        return struct.pack("<d", a) == struct.pack("<d", b)
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        a = list(a) if a is not None else a
        b = list(b) if b is not None else b
        if isinstance(a, list) and isinstance(b, list):
            return len(a) == len(b) and all(
                cell_eq(x, y) for x, y in zip(a, b))
    return a == b

def memory_limit():
    return con.sql("SELECT current_setting('memory_limit')").fetchone()[0]

def mem_total():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return " ".join(line.split()[1:])
    except OSError:
        pass
    return "unknown"

fail = 0
run_dirs = sorted(d.split("/")[-1] for d in glob.glob(f"{out_dir}/*") if not d.endswith(".json"))
for name in run_dirs:
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output parquet")
        fail += 1
        continue
    got = canon(pd.concat([pd.read_parquet(p) for p in sorted(files)], ignore_index=True))
    if name not in oracles:
        # rows-only check must have teeth: an empty no-oracle output
        # verifies nothing and counts as a failure.
        if len(got) > 0:
            print(f"OK*  {name}: no oracle ({len(got)} rows, rows-only)")
        else:
            print(f"FAIL {name}: no oracle and 0 rows (vacuous)")
            fail += 1
        continue
    try:
        exp = canon(con.sql(oracles[name]).df())
    except duckdb.OutOfMemoryException:
        # the oracle needs more memory than this box gives DuckDB: an
        # environment limit, not a result mismatch — still a failure
        print(f"FAIL {name}: oracle out of memory (environment; "
              f"DuckDB memory_limit={memory_limit()}, MemTotal={mem_total()})")
        fail += 1
        continue
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}")
        fail += 1
        continue
    if list(got.columns) != list(exp.columns):
        print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
        fail += 1
        continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
        fail += 1
        continue
    mismatch = None
    for ci, c in enumerate(got.columns):
        gv, ev = got[c].tolist(), exp[c].tolist()
        for ri in range(len(gv)):
            if not cell_eq(gv[ri], ev[ri]):
                mismatch = (c, ri, gv[ri], ev[ri])
                break
        if mismatch:
            break
    if mismatch:
        c, ri, g, e = mismatch
        print(f"FAIL {name}: col {c} row {ri}: spark={g!r} duckdb={e!r}")
        fail += 1
    else:
        print(f"OK   {name}: {len(got)} rows x {len(got.columns)} cols match")

missing = set(oracles) - set(run_dirs)
for m in sorted(missing):
    print(f"FAIL {m}: oracle declared but no spark output")
    fail += 1

print(f"\n{'ALL GREEN' if fail == 0 else f'{fail} FAILURES'} "
      f"({len(run_dirs)} queries, {len(oracles)} oracles)")
sys.exit(1 if fail else 0)
