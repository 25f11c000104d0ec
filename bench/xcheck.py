#!/usr/bin/env python3
"""Cross-checks bench/golden.json against DuckDB.

Usage (from the root of a checkout, DuckDB installed):
    python3 bench/xcheck.py

The golden file holds a fingerprint (row count and two row-hash sums)
of every batch query the benchmark runs, recorded with
`bench/run.py --record-golden`. This script runs the same queries
through `graft.Verify` on the benchmark's tables, compares each output
with the query's DuckDB oracle SQL via tools/oracle_check.py, and
checks that each output has the golden row count. Rerun it whenever
the tables, the query set or the golden file change.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def main():
    golden = json.load(open(os.path.join(run.BENCH, "golden.json")))
    classpath, _ = run.build()
    data = run.data()
    work = os.path.join(run.BUILD, "xcheck")
    shutil.rmtree(work, ignore_errors=True)
    tables = os.path.join(work, "tables")
    os.makedirs(tables)
    # the oracle registers every table; the measured queries read only
    # the benchmark's, so the rest are empty stand-ins
    for t in ORACLE_TABLES:
        src = os.path.join(data, f"{t}.parquet")
        dst = os.path.join(tables, f"{t}.parquet")
        if os.path.exists(src):
            shutil.copy(src, dst)
        else:
            pq.write_table(pa.table({"unused": pa.array([], pa.int64())}), dst)
    out = os.path.join(work, "verify")
    cmd = (["java", "-Xmx3g", "-Djava.io.tmpdir=" + work,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.Verify", tables, out] + sorted(golden))
    subprocess.check_call(cmd, env=dict(os.environ, SPARK_GRAFT_CPUS="4"))
    rc = subprocess.call([sys.executable, os.path.join(run.ROOT, "tools", "oracle_check.py"),
                          out, tables] + sorted(golden))
    bad = []
    for q, fp in sorted(golden.items()):
        rows = int(re.match(r"(\d+):", fp).group(1))
        got = duckdb.sql(f"SELECT count(*) FROM read_parquet('{out}/{q}/*.parquet')").fetchone()[0]
        if got != rows:
            bad.append(f"{q}: golden {rows} rows, Verify wrote {got}")
    for b in bad:
        print("FAIL", b)
    print(f"== oracle_check exit {rc}; {len(golden) - len(bad)}/{len(golden)} golden row counts agree ==")
    sys.exit(1 if rc or bad else 0)


if __name__ == "__main__":
    main()
