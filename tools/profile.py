"""Catalog query profiler: where the time went, what the plan looks like and
which shared substrates were built, one JSON line per query.

Usage:
    python tools/profile.py <sf_dir> <reps> <query> [query ...]

Each line carries:
- ``build_s`` / ``plan_s`` / ``exec_s``: min over reps of building the
  DataFrame on the driver, analysis + optimization + physical planning
  (``executedPlan``), and the noop-sink execution; ``sec`` is the fastest
  whole rep (the bench's noop-sink, min-of-reps methodology);
- ``stages``: the Spark stages of the rep with the fastest execution, eager
  substrate builds included, from the status store — ``executorRunTime``,
  shuffle read/write bytes and memory/disk spill;
- ``plan``: a digest of the physical plan that runs above any persisted
  frame — operator counts (exchanges, joins, windows, Python evals,
  in-memory scans) and its size in lines, one per operator. Comparing two
  scales (or two commits) is running this at both sf_dirs and diffing the
  ``plan`` digests;
- ``substrates``: per memoized builder, the builds, build seconds and hits
  while this query ran (the ``kafka_sink_spark.substrates.report()`` diff);
- ``n_rows`` and, when <= 200, ``rows`` — a re-execution, skipped under
  ``SPARK_GRAFT_LADDER_NO_COUNT``.

Scale-ladder settings: ``SPARK_GRAFT_LADDER_SHUFFLE`` (shuffle partitions)
and ``SPARK_GRAFT_LADDER_SPLIT_BYTES`` (scan split size).
"""

from __future__ import annotations

import json
import os
import sys
import time

# Run as a script, this file's directory heads sys.path and the file would
# shadow the stdlib ``profile`` module that cProfile (imported by pyspark)
# needs: swap that entry for the repo root.
_TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != _TOOLS]
sys.path.insert(0, os.path.dirname(_TOOLS))

PLAN_NODES = (
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Window",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "InMemoryTableScan",
)


def plan_digest(df) -> dict[str, int]:
    """Operator counts over the physical plan that runs, plus its size in
    ``lines``, one per operator: the executed plan walked from its root,
    through adaptive and query-stage wrappers and into subqueries, stopping
    at each in-memory scan — a persisted frame's plan runs when the cache
    fills, and the explain text would repeat it inside every scan of it. A
    reused exchange counts as one more line, not as the exchange again."""
    digest = dict.fromkeys(PLAN_NODES, 0)
    digest["lines"] = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        digest["lines"] += 1
        name = node.nodeName()
        if name in digest:
            digest[name] += 1
        if kind == "InMemoryTableScanExec":
            continue
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return digest


def stages_since(sc, after_id: int) -> list[dict]:
    """Per-stage metrics of the stages with id > ``after_id`` that ran."""
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = []
    seq = store.stageList(None, False, False, no_quantiles, None)
    for s in sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq):
        if s.stageId() <= after_id or s.status().toString() == "SKIPPED":
            continue
        out.append(
            {
                "stage": s.stageId(),
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill_mem": s.memoryBytesSpilled(),
                "spill_disk": s.diskBytesSpilled(),
            }
        )
    return sorted(out, key=lambda r: r["stage"])


def last_stage_id(sc) -> int:
    return max((r["stage"] for r in stages_since(sc, -1)), default=-1)


def substrate_diff(before: dict, after: dict) -> dict[str, dict]:
    """Builds, build seconds and hits per builder between two reports."""
    out = {}
    for name, row in after.items():
        prev = before.get(name, {"builds": 0, "build_s": 0.0, "hits": 0})
        d = {
            "builds": row["builds"] - prev["builds"],
            "build_s": round(row["build_s"] - prev["build_s"], 3),
            "hits": row["hits"] - prev["hits"],
        }
        if d["builds"] or d["hits"]:
            out[name] = d
    return out


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit("usage: python tools/profile.py <sf_dir> <reps> <query> [query ...]")
    sf_dir, reps = sys.argv[1], max(1, int(sys.argv[2]))
    names = sys.argv[3:]
    from kafka_sink_spark import get_spark, substrates
    from kafka_sink_spark.plans import QUERIES

    # SCALE.md shuffle-sizing discipline: at sf100 the default 32
    # partitions put ~1/32 of a multi-billion-row explode in each task and
    # GC-thrash the JVM; SPARK_GRAFT_LADDER_SHUFFLE sizes partitions to
    # the target SF (what spark.sql.shuffle.partitions does on a real
    # cluster).  Results are partitioning-invariant (the exact-integer
    # convention), so certifications hold.
    shuffle = os.environ.get("SPARK_GRAFT_LADDER_SHUFFLE")
    spark = get_spark(
        app_name="profile",
        shuffle_partitions=int(shuffle) if shuffle else None,
    )
    sc = spark.sparkContext
    # Scan-split sizing: the replicated ladder corpora compress absurdly
    # (sf30 documents = 3.1 MB on disk for 1.5M rows), so the default
    # 128 MB maxPartitionBytes reads the WHOLE table as ONE input split and
    # the entire pre-shuffle stage runs single-task — a local-harness
    # artifact, not a plan property.  SPARK_GRAFT_LADDER_SPLIT_BYTES
    # restores realistic scan parallelism (e.g. 65536 → ~50 splits at
    # sf30).  Results are split-invariant.
    split = os.environ.get("SPARK_GRAFT_LADDER_SPLIT_BYTES")
    if split:
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
        spark.conf.set("spark.sql.files.openCostInBytes", split)

    for name in names:
        report0 = substrates.report()
        best = dict.fromkeys(("sec", "build_s", "plan_s", "exec_s"), float("inf"))
        stages: list[dict] = []
        for _ in range(reps):
            before = last_stage_id(sc)
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            if t3 - t2 < best["exec_s"]:
                stages = stages_since(sc, before)
            rep = {"sec": t3 - t0, "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2}
            best = {k: min(best[k], rep[k]) for k in best}
        out = {"query": name, "sf_dir": sf_dir, "reps": reps}
        out.update({k: round(v, 3) for k, v in best.items()})
        out["stages"] = stages
        out["plan"] = plan_digest(df)
        # The row-count/collect pass RE-EXECUTES the query (noop writes
        # leave nothing behind); at sf100 that doubles a 30-minute run,
        # so it is skippable.
        if not os.environ.get("SPARK_GRAFT_LADDER_NO_COUNT"):
            n = df.count()
            out["n_rows"] = n
            if n <= 200:
                out["rows"] = [r.asDict() for r in df.collect()]
        out["substrates"] = substrate_diff(report0, substrates.report())
        print(json.dumps(out, default=str), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
