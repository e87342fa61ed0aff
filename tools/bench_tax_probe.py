"""Catalog-size bench-tax probe (r10 verdict ask #3).

Measures whether per-query session overhead GROWS as a bench sweep
progresses through the catalog, by re-timing a fixed CANARY query (min of
3) every PROBE_EVERY queries.  Canary drift across the sweep = accumulated
session overhead (codegen/JIT state, block-manager entries from persisted
substrates, scheduler bookkeeping) — the +120 ms/query tax decomposed in
SCALE.md r10.

Modes (SPARK_GRAFT_TAX_MODE):
  control  — plain sweep, no hygiene (reproduces the tax if it exists)
  hygiene  — every HYGIENE_EVERY queries: substrates.clear_all() (memo
             entries + the session cache) + JVM System.gc()
Usage:
  SPARK_GRAFT_TAX_MODE=control python tools/bench_tax_probe.py
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 ... (default sf0.01)
Prints one JSON line: {"mode", "canary": [[i, sec], ...], "total_sec",
"queries_run"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CANARY = "sink_json_map"
PROBE_EVERY = 25
HYGIENE_EVERY = 50


def main() -> None:
    mode = os.environ.get("SPARK_GRAFT_TAX_MODE", "control")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from kafka_sink_spark import get_spark, substrates
    from kafka_sink_spark.plans import QUERIES

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import bench_queries

    spark = get_spark(app_name="bench-tax-probe")

    def force(name):
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    def canary_time():
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            force(CANARY)
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    # warm
    force(CANARY)
    names = bench_queries()
    canary = [[0, canary_time()]]
    t_start = time.perf_counter()
    for i, name in enumerate(names, 1):
        force(name)
        if mode == "hygiene" and i % HYGIENE_EVERY == 0:
            substrates.clear_all()
            spark.sparkContext._jvm.System.gc()
        if i % PROBE_EVERY == 0:
            canary.append([i, canary_time()])
    canary.append([len(names), canary_time()])
    total = round(time.perf_counter() - t_start, 2)
    print(
        json.dumps(
            {
                "mode": mode,
                "sf_dir": sf_dir,
                "canary": canary,
                "total_sec": total,
                "queries_run": len(names),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
