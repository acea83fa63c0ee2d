#!/usr/bin/env python3
"""Regenerate perfbench/expected/gate_sf0.01.json from the DuckDB oracle.

    python3 perfbench/make_expected.py

Run from the repo root. Each gate-slice query's oracle SQL
(`SparkEntry.oracleSql`, dumped by the harness's `perfbench.OracleSql`)
runs in DuckDB over perfbench/data/sf0.01; the six golden-backed rows read
the committed answers under golden/ (the sf0.01 tree). The digest of each
answer is what `run.py` compares the engine's output against. The expected
file is only ever regenerated from the oracle, never from engine output.
"""

import json
import os
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import digest  # noqa: E402
import run  # noqa: E402
import seeded  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    opts, cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.build_dir()) as tmp:
        path = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java"] + opts + ["-cp", cp, "perfbench.OracleSql", path],
                       cwd=ROOT, check=True)
        with open(path) as f:
            oracle = json.load(f)
    data = os.path.join(HERE, "data", "sf0.01")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    expected = {}
    for name in sorted(seeded.gate_order(0)):
        rows, cols, dig = digest.of_table(con.sql(oracle[name]).arrow())
        expected[name] = {"rows": rows, "columns": cols, "digest": dig}
        print(f"{name}: {rows} rows")
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", "gate_sf0.01.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
