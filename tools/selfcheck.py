#!/usr/bin/env python3
"""Local pre-flight for the driver's t2 gate: run each oracle SQL in DuckDB
over the fixture parquet, compare to the Spark dump in outDir (columns
sorted by name, values hashed row-wise). A query whose two sides agree on
zero rows prints EMPTY and counts as a failure: an empty gate passes a plan
that drops every row. Usage:
  python3 tools/selfcheck.py <sfDir> <outDir>
"""
import json, os, sys, glob
import duckdb, pandas as pd
import pyarrow.parquet as pq
import pyarrow as pa

sf_dir, out_dir = sys.argv[1], sys.argv[2]
oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
# --only-dumped: restrict to queries Verify actually dumped (subset runs
# via Verify's prefix filter leave the rest of the oracle map dump-less)
if "--only-dumped" in sys.argv[3:]:
    oracle = {k: v for k, v in oracle.items()
              if glob.glob(f"{out_dir}/{k}/*.parquet")}

con = duckdb.connect()
# one view per table file: the fixture directory, not a copied list, names
# the tables (graft.sources.Tables.all owns the engine-side list)
for f in sorted(glob.glob(f"{sf_dir}/*.parquet")):
    t = os.path.basename(f)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

fails = 0
for name, sql in sorted(oracle.items()):
    try:
        want = canon(con.execute(sql).fetchdf())
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        # Read the Spark side via pyarrow (NOT DuckDB): the driver's hasher
        # reads parquet with pyarrow, so decimal/timestamp canonicalization
        # differences between engines must be visible here too. Reading both
        # sides through DuckDB hid the r1 DECIMAL hash-mismatch (q07/q14/x28).
        got = canon(pa.concat_tables([pq.read_table(f) for f in files]).to_pandas())
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}"); fails += 1
            continue
        if len(want) != len(got):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}"); fails += 1
            continue
        if len(got) == 0:
            print(f"EMPTY {name}"); fails += 1
            continue
        # stringify for robust compare (timestamps, decimals)
        ws = want.astype(str); gs = got.astype(str)
        if not ws.equals(gs):
            diff = (ws != gs).any(axis=1)
            print(f"FAIL {name}: {diff.sum()} differing rows; first:\n"
                  f"  want {ws[diff].head(2).to_dict('records')}\n"
                  f"  got  {gs[diff].head(2).to_dict('records')}")
            fails += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
    except Exception as e:
        print(f"ERR  {name}: {e}"); fails += 1
sys.exit(1 if fails else 0)
