"""Round-14 optimization profiler: per-query timing decomposition + plan dump.

For each named query, measures with the bench's exact methodology (noop
sink, min of N) and additionally decomposes:

  build_s  - Python DataFrame-construction time (driver-side lineage build)
  plan_s   - time for spark to produce the executedPlan (analysis+optimization)
  exec_s   - full noop-write wall time (includes re-planning, as in bench.py)

and writes ``plans/r15/<query>_<tag>.txt`` with the formatted physical plan
when --dump is given.  Usage:

    python tools/profile_r15.py [--dump before|after] query [query ...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_REPS=3 ...

Prints one JSON line per query so runs are easy to diff.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))


def main() -> None:
    args = sys.argv[1:]
    tag = None
    if args and args[0] == "--dump":
        tag = args[1]
        args = args[2:]
    if not args:
        sys.exit(
            "usage: python tools/profile_r15.py [--dump before|after] "
            "query [query ...]"
        )

    from kafka_sink_spark import get_spark
    from kafka_sink_spark.plans import QUERIES

    spark = get_spark(app_name="r15-profile")
    sc = spark.sparkContext

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    # Warm JVM + parquet footers, same as bench.py.
    force(QUERIES["sink_json_map"](spark, SF_DIR))

    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15")
    os.makedirs(outdir, exist_ok=True)

    for name in args:
        sc.setJobDescription(f"r15-profile:{name}")
        best = {"build_s": float("inf"), "plan_s": float("inf"), "exec_s": float("inf")}
        for _ in range(REPS):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, SF_DIR)
            t1 = time.perf_counter()
            # Force full analysis + optimization + physical planning.
            _ = df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            force(df)
            t3 = time.perf_counter()
            best["build_s"] = min(best["build_s"], t1 - t0)
            best["plan_s"] = min(best["plan_s"], t2 - t1)
            best["exec_s"] = min(best["exec_s"], t3 - t2)
        if tag:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
                f.write(plan)
        sc.setJobDescription(None)
        rec = {"query": name, "sf_dir": SF_DIR, "reps": REPS}
        rec.update({k: round(v, 3) for k, v in best.items()})
        rec["total_s"] = round(best["build_s"] + best["plan_s"] + best["exec_s"], 3)
        print(json.dumps(rec), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
