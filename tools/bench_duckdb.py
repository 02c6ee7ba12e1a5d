#!/usr/bin/env python3
"""DEV-ONLY harness (not part of the shipped Scala library).

Times the DuckDB oracle SQL for the headline bench queries over an
arbitrary SF dir (original single files or ScaleUp
multi-file replicas), mirroring the warm-median-of-3 protocol the round
judge uses, so Spark-vs-DuckDB ratios can be measured at any scale.

Usage: python3 tools/bench_duckdb.py <sfDir> <oracleSqlJson> [names...]
  <oracleSqlJson>: oracle_sql.json dumped by graft.Verify
  [names...]: query names to time (default: the 5 headline queries)
"""
import json
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

HEADLINE = ["q02_pricing_summary", "q03_join_broadcast_dim",
            "q07_regional_revenue", "q11_window_rank", "q22_sessionize"]


def register(con, sf_dir: str) -> None:
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        src = f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) \
            else f"read_parquet('{path}')"
        if t == "events":
            # Spark-rewritten replicas store ts as raw nanos BIGINT
            # (spark.sql.legacy.parquet.nanosAsLong); rebuild the
            # TIMESTAMP the oracle SQL expects (nanos//1000 = micros,
            # exact).
            ts_type = con.execute(
                f"SELECT typeof(ts) FROM {src} LIMIT 1").fetchone()[0]
            if ts_type == "BIGINT":
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * REPLACE "
                    f"(make_timestamp(ts // 1000) AS ts) FROM {src}")
                continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")


def main() -> int:
    sf_dir, oracle_path = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or HEADLINE
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    register(con, sf_dir)
    out = {}
    for name in names:
        sql = oracle[name]
        con.execute(sql).fetchall()  # warm (buffer cache, plan)
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            times.append(time.perf_counter() - t0)
        out[name] = sorted(times)[1]  # median of 3
    print(json.dumps({"metric": "duckdb_bench", "sf": sf_dir,
                      "queries": out, "total": sum(out.values())}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
