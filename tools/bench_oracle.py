"""Measure the DuckDB oracle baseline over every oracled registry query.

Run from the repo root: python tools/bench_oracle.py [sf_dir]
Prints one JSON line: {query: min_sec} + total, medians alongside — the
BASELINE.md "DuckDB, all oracled queries" row. Protocol: min and median
of 3 runs per query on one in-process DuckDB connection with the fixture
tables registered as views (exactly what the correctness driver does).
"""
import json
import os
import statistics
import sys
import time

import duckdb

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

from tez_spark.plans.registry import all_oracles  # noqa: E402

con = duckdb.connect()
for t in TABLES:
    path = os.path.join(SF_DIR, f"{t}.parquet")
    if os.path.exists(path):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

# min-of-3 headline for PROTOCOL SYMMETRY with bench.py (which switched
# to min-of-3 in round 5 — this host's contention bursts inflate both
# engines' samples the same way); medians reported alongside so either
# aggregation can be compared like-for-like.
results: dict[str, float] = {}
medians: dict[str, float] = {}
for name, sql in sorted(all_oracles().items()):
    samples = []
    for _ in range(3):
        t0 = time.monotonic()
        con.execute(sql).fetchall()
        samples.append(time.monotonic() - t0)
    results[name] = round(min(samples), 3)
    medians[name] = round(statistics.median(samples), 3)

total = round(sum(results.values()), 3)
print(json.dumps({"metric": "duckdb_oracle_total", "value": total,
                  "unit": "sec", "queries": results, "medians": medians,
                  "median_total": round(sum(medians.values()), 3),
                  "sf_dir": SF_DIR}))
