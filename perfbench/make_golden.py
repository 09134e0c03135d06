#!/usr/bin/env python3
"""Regenerate golden/sf0.1.json: the digest of each analytic query's
result as its registered DuckDB oracle computes it on the sf0.1 tables.

Usage (from the repository root, after one `perfbench/run.py` run has
built the harness):
    python3 perfbench/make_golden.py
"""
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    root = os.getcwd()
    data = run.data_dir(root)
    with open(os.path.join(root, run.BUILD, "classpath.json")) as f:
        classpath = json.load(f)["classpath"]
    out = subprocess.run(run.jvm(classpath, "perfbench.GoldenSql"),
                         capture_output=True, text=True, check=True).stdout
    oracles = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    queries = {}
    for name, sql in sorted(oracles.items()):
        rows, digest = run.result_digest(con.execute(sql))
        queries[name] = {"rows": rows, "sha256": digest}
        print(f"{name}: {rows} rows")
    golden = {"data": {f"{t}.parquet": os.path.getsize(f"{data}/{t}.parquet")
                       for t in TABLES},
              "queries": queries}
    os.makedirs(os.path.join(run.HERE, "golden"), exist_ok=True)
    with open(os.path.join(run.HERE, "golden", "sf0.1.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
