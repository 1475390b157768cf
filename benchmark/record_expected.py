#!/usr/bin/env python3
"""Record the catalog_mix oracle hashes once, from DuckDB.

    python3 benchmark/record_expected.py

Dumps `SparkEntry.oracleSql` for the catalog_mix queries through the
harness, runs each statement in DuckDB over data/sf0.01 (a copy of the seed-42
sf0.01 fixture tables) and writes the canonical result hash of each to
expected/catalog_sf0.01.json. run.py compares every run's results against
these hashes instead of re-running DuckDB.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.BENCH) as tmp:
        sql_path = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", cp, "graftbench.Main", "--dump-oracle", sql_path],
                       check=True, stdin=subprocess.DEVNULL)
        with open(sql_path) as f:
            oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run.CATALOG_DATA}/{t}.parquet')")
    hashes = {q: run.frame_hash(con.execute(sql).fetchdf())
              for q, sql in sorted(oracle.items())}
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as f:
        json.dump({"data": "sf0.01, seed 42", "hashes": hashes}, f, indent=1)
        f.write("\n")
    print(json.dumps(hashes, indent=1))


if __name__ == "__main__":
    main()
