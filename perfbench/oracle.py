#!/usr/bin/env python3
"""Recompute the oracle answers the correctness gate compares against.

    python3 perfbench/oracle.py

Reads each benchmark card's DuckDB oracle SQL from the program
(`SparkEntry.oracleSql`), runs it in DuckDB over the benchmark data, and
writes the canonical digest of every answer to `oracle/answers.json`.
It also writes `oracle/bands.parquet`: every document's MinHash band
rows from the CTE chain of q194's oracle SQL, which the lifecycle
probes are checked against. Run it when the data or an oracle SQL
changes.
"""
import json
import os
import subprocess

import duckdb
import pyarrow.parquet as pq

import build
import check
import plan
import run

if __name__ == "__main__":
    classes = build.build()
    cards = plan.CHAINS
    band_card = "q194_incremental_neardup"
    out = subprocess.run(
        ["java", "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
         "perfbench.OracleSql", ",".join(cards + [band_card])],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    sql = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(run.DATA, f)}'")
    answers = {}
    for c in cards:
        rows, sha = check.digest(con.sql(sql[c]).arrow())
        answers[c] = {"rows": rows, "sha256": sha}
        print(f"{c}: {rows} rows")
    with open(check.ORACLE, "w") as fh:
        json.dump(answers, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # q194's SQL is `WITH <minhash chain ending in bands>, cb AS (...` —
    # keep the chain and select its bands
    chain = sql[band_card].split("\ncb AS (")[0].rstrip().rstrip(",")
    if "bands AS (" not in chain:
        raise SystemExit(f"{band_card} oracle SQL no longer ends its chain in bands")
    bands = con.sql(chain + "\nSELECT doc_id, band_id, band_key FROM bands "
                    "ORDER BY doc_id, band_id").arrow()
    pq.write_table(bands, check.BANDS, compression="zstd")
    print(f"bands: {bands.num_rows} rows")
