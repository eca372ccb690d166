#!/usr/bin/env python3
"""Both-engine crossover helper for scale dirs that hold only a SUBSET of
the tables (testdata-sf1 / testdata-sf3 carry documents/embeddings/events/
lineitem/part): times the named oracle SQLs in DuckDB over whatever tables
exist (directories of part-files are globbed). The Spark side of the pair
comes from `graft.Bench <names...>` with SPARK_GRAFT_SF_DIR set to the
same dir (one JVM per dir; see Bench's usage for the -explain and -warm
modes).

Usage: crossover.py <sfDir> <oracleSqlJson> <query> [query...]
Prints one JSON line {name: best_of_2_seconds} plus per-query lines.
Dev tooling only (driver-side python).
"""
import json
import os
import sys
import time

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main():
    sf_dir, sql_json = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    with open(sql_json) as f:
        oracle_sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 32")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    times = {}
    for name in names:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                con.execute(oracle_sql[name]).fetchall()
            except Exception as e:  # noqa: BLE001
                print(f"ERR   {name}: {e}")
                best = -1.0
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        times[name] = best
        print(f"{best:8.3f}  {name}")
    print(json.dumps({k: round(v, 3) for k, v in times.items()}))


if __name__ == "__main__":
    main()
