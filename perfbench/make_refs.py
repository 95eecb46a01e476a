#!/usr/bin/env python3
"""Regenerates perfbench/refs.json, the correctness references of the
batch workloads.

    python3 perfbench/make_refs.py

For every query of the batch workload `curation` (perfbench.Batch) it runs
the query's `SparkEntry.oracleSql` in DuckDB over the benchmark's own
copy of the inputs (perfbench/data/<sf>) and stores the row count and
the canonical content hash of canon.py. run.py compares each run's
verify-pass output against these. DuckDB finishes every oracle, so no
query is pinned to the library's own output.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import canon  # noqa: E402
import run  # noqa: E402


def main():
    cp = run.classpath()
    with tempfile.TemporaryDirectory(dir=os.path.join(run.ROOT, ".bench_build")) as tmp:
        path = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "oracle-sql", path], check=True)
        oracle = json.load(open(path))
    refs = {}
    for sf, queries in sorted(oracle.items()):
        con = duckdb.connect()
        data = os.path.join(HERE, "data", sf)
        for f in sorted(os.listdir(data)):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{f}')")
        refs[sf] = {}
        for q, sql in sorted(queries.items()):
            rows, digest = canon.digest(con.execute(sql).fetchdf())
            refs[sf][q] = {"rows": rows, "sha256": digest}
            print(f"{sf} {q}: {rows} rows {digest[:12]}")
    with open(os.path.join(HERE, "refs.json"), "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
