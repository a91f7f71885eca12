#!/usr/bin/env python3
"""Large-SF ledger oracle pass: the same per-query compare as
oracle_check.py, but each query runs in its own subprocess under a
wall-clock timeout, so DuckDB replays that are super-linear at 10x (LSH
banding unions, prefix joins) report TIMEOUT instead of stalling the whole
pass. A TIMEOUT is a feasibility statement about the ORACLE at this SF, not
a correctness verdict. N worker subprocesses run at once, each DuckDB capped
to a few threads so workers share the box instead of thrashing it;
workers=1 is the sequential form.

Usage: oracle_check_parallel.py <sfDir> <outDir> [timeoutSec] [workers] [skipFile]
skipFile: newline-separated query names already verified (skipped).
Spark-written corpora (TenXCorpus) are part-file directories and are globbed.
"""
import concurrent.futures as cf
import json
import os
import subprocess
import sys

WORKER = r"""
import sys, json, os
sys.path.insert(0, "tools")
from oracle_check import TABLES, frame, cells
import duckdb
sf_dir, out_dir, name, threads = sys.argv[1:5]
con = duckdb.connect()
con.sql(f"SET threads={threads}")
con.sql("SET enable_progress_bar=false")
for t in TABLES:
    p = f"{sf_dir}/{t}.parquet"
    src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
sql = json.load(open(f"{out_dir}/oracle_sql.json"))[name]
s_df = frame(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'"))
d_df = frame(con.sql(sql))
if list(s_df.columns) != list(d_df.columns):
    print(f"columns spark={list(s_df.columns)} duck={list(d_df.columns)}")
    sys.exit(2)
s_rows, d_rows = cells(s_df), cells(d_df)
if s_rows != d_rows:
    diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    print(f"rows spark={len(s_rows)} duck={len(d_rows)} first_diff={diffs[:1]}")
    sys.exit(2)
print(len(s_rows))
"""


def check_one(args):
    sf_dir, out_dir, name, timeout, threads = args
    try:
        r = subprocess.run(
            [sys.executable, "-c", WORKER, sf_dir, out_dir, name, str(threads)],
            capture_output=True, text=True, timeout=timeout)
        if r.returncode == 0:
            return (name, "OK", f"{r.stdout.strip()} rows")
        return (name, "FAIL", (r.stdout.strip()[:300] + " " + r.stderr.strip()[-300:]).strip())
    except subprocess.TimeoutExpired:
        return (name, "TIMEOUT", f"> {timeout:.0f}s oracle replay")


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    timeout = float(sys.argv[3]) if len(sys.argv) > 3 else 120.0
    workers = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    skip = set()
    if len(sys.argv) > 5 and os.path.exists(sys.argv[5]):
        skip = set(open(sys.argv[5]).read().split())
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    names = [n for n in sorted(oracles) if n not in skip]
    print(f"checking {len(names)} queries ({len(skip)} skipped as already OK)")
    tally = {"OK": [], "FAIL": [], "TIMEOUT": []}
    jobs = [(sf_dir, out_dir, n, timeout, 4) for n in names]
    with cf.ThreadPoolExecutor(max_workers=workers) as ex:
        for name, status, detail in ex.map(check_one, jobs):
            print(f"{status:<7} {name} ({detail})", flush=True)
            tally[status].append(name)
    print(f"\n{len(tally['OK']) + len(skip)} OK (incl. skipped), "
          f"{len(tally['FAIL'])} FAIL, {len(tally['TIMEOUT'])} TIMEOUT")
    if tally["TIMEOUT"]:
        print("timeouts:", ",".join(tally["TIMEOUT"]))
    if tally["FAIL"]:
        print("fails:", ",".join(tally["FAIL"]))
    sys.exit(1 if tally["FAIL"] else 0)


if __name__ == "__main__":
    main()
