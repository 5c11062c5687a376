"""Fleet-wide plan-BUILD cost sweep (r16/r17 build-economy work).

The bench times build + execute per query; r16 isolated the build term
(Python-side DataFrame construction: Py4J round-trips + JVM analysis)
at 39.65 s fleet-wide and cut it to ~14 s. This tool measures it per
query so remaining static expression families worth a jvm_expr_memo
(>50 ms/build, shape-identical plans) are found by measurement, not
guesswork (VERDICT r16 item 6).

Protocol: warm session (one throwaway build per query first), then N
timed builds per query, min kept. Builds only — no action is executed,
except whatever driver-side actions a query's own build performs
(e.g. the CC loop's convergence counts, collect-based query setups),
which are honestly part of its build cost.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  [TEZ_SPARK_ONLY=a,b] [TEZ_SPARK_BUILD_RUNS=2] \
  python tools/build_sweep.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)
    # at least one timed build: with 0, best stays None and every query
    # would land in errors
    runs = max(1, int(os.environ.get("TEZ_SPARK_BUILD_RUNS", "2")))
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/build_sweep.json"

    from tez_spark.plans.registry import all_queries
    from tez_spark.session import get_spark

    spark = get_spark(app_name="tez_spark_build_sweep", cpus=cpus,
                      shuffle_partitions=cpus)
    queries = all_queries()
    only = os.environ.get("TEZ_SPARK_ONLY")
    if only:
        keep = {k.strip() for k in only.split(",")}
        queries = {k: v for k, v in queries.items() if k in keep}

    # shared-artifact prewarm, mirroring bench.py: the one-time corpus
    # artifact build must not be charged to whichever query builds first
    try:
        from tez_spark.operators.dedup import prewarm_corpus_artifacts

        prewarm_corpus_artifacts(spark, sf_dir)
    except Exception:
        pass

    results: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in sorted(queries):
        try:
            queries[name](spark, sf_dir)  # warm build (memo/caches fill)
            best = None
            for _ in range(runs):
                t0 = time.monotonic()
                queries[name](spark, sf_dir)
                dt = time.monotonic() - t0
                if best is None or dt < best:
                    best = dt
            results[name] = round(best, 4)
        except Exception as exc:  # keep sweeping
            errors[name] = str(exc)[:200]
    total = round(sum(results.values()), 3)
    out = {
        "total_build_sec": total,
        "n": len(results),
        "errors": errors,
        "builds": dict(
            sorted(results.items(), key=lambda kv: -kv[1])
        ),
    }
    print(json.dumps(out, indent=1))
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
