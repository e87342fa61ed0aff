"""Sink-path benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see README.md for the rationale
and the layer → end-to-end metric map):

- ``sink_keyed_drain``  closed loop: drains a staged backlog of keyed JSON
  records in large micro-batches through the streaming sink;
- ``sink_fanout_paced`` open loop: one thread releases small files on a
  fixed schedule; one topic fans out to two tables with unknown-topic,
  malformed and tombstone records under ``ignoreErrors=All``.

The traced keyed-drain run also times one pass of catalog queries in a
fresh session, for the ``plans`` and ``substrates`` layers.

Every input is generated from ``--seed`` under ``.perfbench/`` in the
current directory, and removed at exit. Outputs are checked against a
DuckDB oracle. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is a JSON report with everything
measured. A traced run also writes its spans to
``.perfbench/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")

SETUP_REPS = 3

# keyed drain: files of DRAIN_PER_FILE records, DRAIN_FILES_PER_BATCH files
# per micro-batch; the backlog holds one batch per DRAIN_BATCH_S seconds
# asked for (the seed's batch time on a 4-core machine whose host is busy;
# 2.5-3 s when it is quiet), so a run lasts at most about --seconds.
DRAIN_PER_FILE = 25_000
DRAIN_FILES_PER_BATCH = 2
DRAIN_USERS_PER_FILE = 250
DRAIN_BATCH_S = 4.0

# paced fan-out: one FANOUT_PER_FILE-record file every FANOUT_INTERVAL_S
# (500 records/s), one file per micro-batch. The seed's one-file
# micro-batch takes 2-2.5 s on 4 cores (3.5-4 s when the host is busy; at
# one file per 3 s a backlog then built up) and is almost all per-batch
# fixed cost; each file adds tasks to every job of a micro-batch, so
# letting files share a batch would make the work per batch depend on how
# fast the previous one ran.
FANOUT_PER_FILE = 2_000
FANOUT_INTERVAL_S = 4.0
FANOUT_GRACE_S = 5.0

# catalog tables of the traced drain run's catalog pass, about the
# engine's sf0.01 test scale.
CATALOG_ROWS = {"n_events": 10_000, "n_docs": 500, "n_vecs": 500}

# Warm-up: the measured query first streams WARM batches of input generated
# from seed + WARMUP_SEED, in files named WARM_PREFIX + ...; after them the
# per-batch CPU outside JIT compilation is flat from batch to batch.
WARMUP_SEED = 1_000_003
WARM_PREFIX = "warm-"
DRAIN_WARM_BATCHES = 2
FANOUT_WARM_BATCHES = 3

COMMIT_TIMEOUT_S = 120.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["sink_keyed_drain", "sink_fanout_paced"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def require_program() -> None:
    """Exit non-zero before measuring anything when the program under test
    is not next to the benchmark."""
    if not os.path.isfile(os.path.join(ROOT, "kafka_sink_spark", "__init__.py")):
        print(f"perfbench: no kafka_sink_spark package under {ROOT}", file=sys.stderr)
        sys.exit(2)


class Run:
    """State of one benchmark run: the Spark session, its work directory,
    the tracer and what was measured."""

    def __init__(self, args):
        from perfbench.common import Tracer

        self.args = args
        self.work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.inputs: list[str] = []  # the staged files the run measures
        self.report: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace}
        self.e2e: dict = {}
        # the measured micro-batches: wall-clock (start, end) and input rows
        self.windows: list[tuple[float, float]] = []
        self.batch_rows: list[int] = []
        self.layers: dict = {}
        self.attempted = 0
        self.failed = 0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> float:
        from perfbench.common import start_spark

        t0 = time.time()
        self.spark = start_spark(self.path("spark"))
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t0

    def close_context(self) -> None:
        """Stop the SparkContext; the JVM stays up for the next session."""
        self.spark.stop()
        self.spark = None

    def close(self) -> None:
        """Stop Spark and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


# ------------------------------------------------------------ sink workloads


def _measured(run: Run, batches: list[dict], res, records_per_file: int) -> None:
    """The measured micro-batches: wall-clock span from their progress
    reports, records from the files the commit log gives them."""
    from perfbench.streamrun import progress_end, progress_start

    run.windows = [(progress_start(p), progress_end(p)) for p in batches]
    run.batch_rows = [len(res.batch_files.get(p["batchId"], ())) * records_per_file
                      for p in batches]


def _cost_metrics(run: Run, tree) -> None:
    """CPU the process tree (Python driver, JVM, Python workers) spent per
    record inside each measured micro-batch, without the JVM's JIT
    compiler threads, as the median over batches; and the tree's median
    resident memory over them. Idle time between paced batches is left
    out, so the figures do not depend on how long the sink waited. JIT
    compilation is left out because how much of it lands in a batch
    depends on timing: it was 30-50% of a fan-out batch's CPU even after
    warm-up, and varied more from batch to batch than all the rest."""
    cpu = [tree.cpu_within(*w) for w in run.windows]
    jit = [tree.jit_within(*w) for w in run.windows]
    run.e2e["cpu_us_per_record"] = statistics.median(
        1e6 * (c - j) / n for c, j, n in zip(cpu, jit, run.batch_rows))
    run.e2e["rss_mb"] = tree.rss_median(run.windows[0][0], run.windows[-1][1])
    run.report["per_batch_cpu_s"] = [round(c, 3) for c in cpu]
    run.report["per_batch_jit_cpu_s"] = [round(j, 3) for j in jit]
    run.report["peak_rss_mb"] = tree.rss_peak()


def _latency_metrics(run: Run, batch_s: list[float], event_s: list[float],
                     records: int, pass_s: float) -> None:
    """Wall-clock figures of the pass, for the report line."""
    from perfbench.common import summarize

    run.report["wall"] = {
        "records_per_s": records / pass_s,
        "pass_s": pass_s,
        "batch_latency_s": summarize(batch_s),
        "event_latency_s": summarize(event_s),
        "batch_s": [round(x, 3) for x in batch_s],
    }


def _check_sink(run: Run, res, acc_value: dict, workload: str, n_tables: int) -> None:
    """Compare the sink's outcome over the committed files with the oracle;
    every mismatch counts toward ``failed``."""
    from perfbench.fakecass import DIGEST_MOD
    from perfbench.sink import oracle

    files = [f for fs in res.batch_files.values() for f in fs]
    t0 = time.time()
    exp = oracle(files, workload, n_tables)
    run.report["oracle_s"] = time.time() - t0
    got = dict(acc_value)
    got["digest"] = got.get("digest", 0) % DIGEST_MOD
    got["unknown"] = res.metrics.failed_with_unknown_topic
    got["dead_letters"] = res.dead_letters
    diffs = {}
    for k in set(exp) | {k for k in got if k.startswith("kind:")}:
        if k in ("records", "digest"):
            continue
        if exp.get(k, 0) != got.get(k, 0):
            diffs[k] = {"expected": exp.get(k, 0), "got": got.get(k, 0)}
    failed = sum(abs(d["expected"] - d["got"]) for d in diffs.values())
    if exp["digest"] != got["digest"]:
        diffs["digest"] = "mismatch"
        failed = max(failed, 1)
    if got.get("invalid", 0):
        diffs["invalid_statements"] = got["invalid"]
        failed += got["invalid"]
    run.attempted += exp["records"]
    run.failed += min(failed, exp["records"])
    run.report["oracle"] = {"expected": {k: v for k, v in exp.items() if k != "digest"},
                            "diffs": diffs}


def _stream_layers(run: Run, res, stream, batches: list[dict], max_batch: int) -> None:
    """Per-batch accounting of a traced stream: ``batchDuration`` = shell
    phases (progress ``durationMs``) + writer wrapper + bookkeeping
    (addBatch minus the writer wrapper) + unaccounted; writer counts from
    the fake session's accumulator. Layer metrics are per-batch medians."""
    from perfbench.streamrun import SHELL_PHASES, progress_start

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    # Spans: batch → shell phases laid out in execution order from their
    # durations; the writer and dead-letter spans measured during the batch
    # become children of its addBatch phase, whose self time is bookkeeping.
    children: dict = {}
    for s in run.tracer.spans:
        if s["name"] in ("write_routed", "dead_letter_sink"):
            children.setdefault(s["trace_id"], []).append(s)
    accounting = []
    for p in batches:
        bid, d = p["batchId"], p["durationMs"]
        t = progress_start(p)
        root = run.tracer.add("batch", t, t + p["batchDuration"] / 1000.0, bid)
        for k in SHELL_PHASES:
            sid = run.tracer.add(k, t, t + d.get(k, 0) / 1000.0, bid, root)
            if k == "addBatch":
                for c in children.get(bid, []):
                    c["parent"] = sid
            t += d.get(k, 0) / 1000.0
        writer = res.writer_s.get(bid, 0.0)
        accounting.append({
            "batch": bid, "batch_s": p["batchDuration"] / 1000.0,
            "shell_s": sum(d.get(k, 0) for k in SHELL_PHASES if k != "addBatch") / 1000.0,
            "writer_s": writer, "bookkeeping_s": d.get("addBatch", 0) / 1000.0 - writer,
            "unaccounted_s": (d["triggerExecution"] - sum(d.get(k, 0) for k in SHELL_PHASES))
            / 1000.0,
        })
    run.report["batch_accounting"] = accounting
    for name in ("bookkeeping_s", "unaccounted_s"):
        run.layers[name] = med([a[name] for a in accounting])
    phase = {
        "wal_commit_s": "walCommit", "commit_offsets_s": "commitOffsets",
        "latest_offset_s": "latestOffset", "query_planning_s": "queryPlanning",
        "get_batch_s": "getBatch",
    }
    for name, key in phase.items():
        run.layers[name] = med([p["durationMs"].get(key, 0) / 1000.0 for p in batches])

    per = [res.writer_acc.get(p["batchId"], {}) for p in batches]
    for name, key in (("sessions_per_batch", "sessions"), ("prepares_per_batch", "prepares"),
                      ("singles_per_batch", "singles")):
        run.layers[name] = med([a.get(key, 0) for a in per])
    frames = sum(a.get("frames", 0) for a in per)
    spf = sum(a.get("batched_statements", 0) for a in per) / frames if frames else 0.0
    run.layers["statements_per_frame"] = spf
    run.layers["batch_fill"] = spf / max_batch
    run.layers["write_tasks_per_batch"] = med([res.writer_tasks.get(p["batchId"], 0)
                                               for p in batches])
    # the query's job group also holds the warm-up batches' jobs
    group_jobs = run.spark.sparkContext.statusTracker().getJobIdsForGroup(str(stream.query.runId))
    n_all = sum(1 for p in res.progress if p["numInputRows"] > 0)
    run.layers["jobs_per_batch"] = len(group_jobs) / max(1, n_all)
    run.layers["unknown_rows"] = res.metrics.failed_with_unknown_topic
    run.layers["mapping_error_rows"] = sum(res.metrics.failed_record_count.values())
    run.layers["dead_letter_rows"] = res.dead_letters


def _warm_stream(run: Run, spec, stage_fn, warm_fn, files_per_trigger: int):
    """Set-up: session start; SETUP_REPS × stage the measured inputs (the
    last rep's are the ones measured); start the measured query and stream
    the separately seeded warm-up files through it, ``files_per_trigger``
    per micro-batch, so the measured batches run on a warm JVM and warm
    Python workers. ``setup_s`` = session start + the median staging rep +
    the warm-up. Returns the running stream, its accumulator and its
    source directory."""
    from perfbench import fakecass
    from perfbench.streamrun import SinkStream

    session_s = run.start_session()
    stage_s = []
    for i in range(SETUP_REPS):
        t0 = time.time()
        run.inputs = stage_fn(run.path(f"inputs-{i}"))
        stage_s.append(time.time() - t0)
    t0 = time.time()
    src = run.path("src")
    os.makedirs(src)
    warm = warm_fn(run.path("warm"))
    for f in warm:
        os.rename(f, os.path.join(src, WARM_PREFIX + os.path.basename(f)))
    acc = run.spark.sparkContext.accumulator({}, fakecass.DictSum())
    stream = SinkStream(run.spark, spec, src, run.path("ckpt"), acc, run.tracer,
                        files_per_trigger)
    stream.start()
    stream.wait_committed(len(warm), COMMIT_TIMEOUT_S)
    warm_s = time.time() - t0
    run.e2e["setup_s"] = session_s + statistics.median(stage_s) + warm_s
    run.report["setup"] = {"session_s": session_s, "stage_s": stage_s, "warm_s": warm_s,
                           "warm_files": len(warm)}
    return stream, acc, src


def _measured_batches(res) -> list[dict]:
    """Progress reports of the micro-batches that read measured input."""
    def measured(bid):
        files = res.batch_files.get(bid, ())
        return any(not os.path.basename(f).startswith(WARM_PREFIX) for f in files)

    return [p for p in res.progress if p["numInputRows"] > 0 and measured(p["batchId"])]


def sink_keyed_drain(run: Run) -> None:
    from perfbench import stage
    from perfbench.sink import drain_spec
    from perfbench.streamrun import progress_end

    spec = drain_spec()
    n_batches = max(3, round(run.args.seconds / DRAIN_BATCH_S))
    n_files = n_batches * DRAIN_FILES_PER_BATCH
    stream, acc, src = _warm_stream(
        run, spec,
        lambda d: stage.drain_files(d, run.args.seed, n_files, DRAIN_PER_FILE,
                                    DRAIN_USERS_PER_FILE),
        lambda d: stage.drain_files(d, run.args.seed + WARMUP_SEED,
                                    DRAIN_WARM_BATCHES * DRAIN_FILES_PER_BATCH,
                                    DRAIN_PER_FILE, DRAIN_USERS_PER_FILE),
        DRAIN_FILES_PER_BATCH,
    )
    # the whole backlog arrives at once
    t_start = time.time()
    for f in run.inputs:
        os.rename(f, os.path.join(src, os.path.basename(f)))
    n_warm = DRAIN_WARM_BATCHES * DRAIN_FILES_PER_BATCH
    drained = stream.wait_committed(n_warm + n_files, COMMIT_TIMEOUT_S)
    res = stream.stop()
    batches = _measured_batches(res)
    _measured(run, batches, res, DRAIN_PER_FILE)
    ends = [progress_end(p) for p in batches]
    # closed loop: a batch's files are due when the batch before it commits
    due = [t_start] + ends[:-1]
    _latency_metrics(
        run, [p["batchDuration"] / 1000.0 for p in batches],
        [e - d for e, d in zip(ends, due)], n_files * DRAIN_PER_FILE, max(ends) - t_start,
    )
    run.report["batches"] = len(batches)
    run.report["drained"] = drained
    _check_sink(run, res, acc.value, "drain", 1)
    if not drained:
        run.failed = run.attempted
    if run.tracer.enabled:
        _stream_layers(run, res, stream, batches, spec.config.max_number_of_records_in_batch)
        mid = res.batch_files[batches[len(batches) // 2]["batchId"]]
        _probe(run, spec, mid)
        _catalog_trace(run)


def sink_fanout_paced(run: Run) -> None:
    from perfbench import stage
    from perfbench.common import summarize
    from perfbench.sink import fanout_spec
    from perfbench.streamrun import Pacer, progress_end

    spec = fanout_spec()
    n_files = max(4, round(run.args.seconds / FANOUT_INTERVAL_S))
    stream, acc, src = _warm_stream(
        run, spec,
        lambda d: stage.fanout_files(d, run.args.seed, n_files, FANOUT_PER_FILE),
        lambda d: stage.fanout_files(d, run.args.seed + WARMUP_SEED, FANOUT_WARM_BATCHES,
                                     FANOUT_PER_FILE),
        1,
    )
    pacer = Pacer(run.inputs, src, FANOUT_INTERVAL_S)
    t0 = time.time() + 0.5
    pacer.start(t0)
    pacer.join(timeout=n_files * FANOUT_INTERVAL_S + 30)
    # the run ends once every file is committed, or FANOUT_GRACE_S after
    # the last one was due
    n_all = FANOUT_WARM_BATCHES + n_files
    end_at = t0 + (n_files - 1) * FANOUT_INTERVAL_S + FANOUT_GRACE_S
    stream.wait_committed(n_all, max(0.0, end_at - time.time()))
    committed_at_end = sum(len(v) for v in stream.committed_files().values())
    backlog = len(pacer.released) - (committed_at_end - FANOUT_WARM_BATCHES)
    drained = stream.wait_committed(n_all, COMMIT_TIMEOUT_S)
    res = stream.stop()
    batches = _measured_batches(res)
    _measured(run, batches, res, FANOUT_PER_FILE)
    end_of = {p["batchId"]: progress_end(p) for p in batches}
    lat = [end_of[bid] - pacer.due[f] for bid in end_of for f in res.batch_files[bid]]
    _latency_metrics(
        run, [p["batchDuration"] / 1000.0 for p in batches], lat,
        n_files * FANOUT_PER_FILE, max(end_of.values()) - t0,
    )
    run.report["backlog_end_files"] = backlog
    run.report["generator_lateness"] = summarize(pacer.lateness())
    run.report["batches"] = len(batches)
    run.report["offered_records_per_s"] = FANOUT_PER_FILE / FANOUT_INTERVAL_S
    _check_sink(run, res, acc.value, "fanout", len(spec.config.tables))
    if not drained:
        run.failed = run.attempted
    if run.tracer.enabled:
        _stream_layers(run, res, stream, batches, spec.config.max_number_of_records_in_batch)
        _probe(run, spec, res.batch_files[batches[len(batches) // 2]["batchId"]])


def _probe(run: Run, spec, files: list[str]) -> None:
    from perfbench import fakecass
    from perfbench.probe import layer_probe

    acc = run.spark.sparkContext.accumulator({}, fakecass.DictSum())
    t0 = time.time()
    probe = layer_probe(run.spark, spec, files, acc)
    run.report["probe"] = {"files": len(files), "records": probe["records"],
                           "wall_s": time.time() - t0, "writer": probe["writer"]}
    run.layers.update(probe["layers"])


# --------------------------------------------------------------- catalog


def _catalog_trace(run: Run) -> None:
    """The traced keyed-drain run also times one catalog pass in a fresh
    session, so the ``plans`` and ``substrates`` layers are measured: per
    query seconds, the substrate caches each query built, and the BM25
    family's first-consumer vs later-consumer time. The pass's outputs are
    checked against the DuckDB oracle and count toward ``attempted``."""
    from kafka_sink_spark import substrates

    from perfbench import catalog, stage

    sf_dir = stage.catalog_tables(run.path("sf"), run.args.seed, **CATALOG_ROWS)
    names = catalog.query_names()
    run.close_context()
    substrates.clear_all()
    run.start_session()
    t0 = time.time()
    per_query = catalog.run_pass(run.spark, sf_dir, names, run.tracer)
    pass_s = time.time() - t0
    entries = catalog.substrate_entries()
    checks = catalog.check(sf_dir, catalog.collect_all(run.spark, sf_dir, names))
    bad = sorted(n for n, (ok, _) in checks.items() if not ok)
    run.attempted += len(names)
    run.failed += len(bad)
    first, *later = catalog.FAMILY
    run.report["catalog"] = {
        "pass_s": pass_s,
        "queries": {n: round(q["build_s"] + q["exec_s"], 4) for n, q in per_query.items()},
        "oracle": {"checked": len(names), "mismatched": bad},
        "substrate_entries": entries,
        "substrate_consumers": {
            m: {"s": per_query[m]["build_s"] + per_query[m]["exec_s"],
                "role": "first" if m == first else "later",
                "substrates_built": per_query[m]["substrates_built"]}
            for m in (first, *later)
        },
    }
    run.layers["substrate_entries"] = sum(entries.values())


WORKLOADS = {
    "sink_keyed_drain": sink_keyed_drain,
    "sink_fanout_paced": sink_fanout_paced,
}


def contract_metrics(run: Run) -> dict:
    """The metrics BENCHMARK.json names for this mode, with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if run.args.trace else bench["end_to_end"]
    source = run.layers if run.args.trace else run.e2e
    missing = [m["name"] for m in wanted if source.get(m["name"]) is None]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}


def main(argv=None) -> int:
    args = parse_args(argv)
    require_program()
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers import the package and the fake session from here.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench.common import TreeSampler

    run = Run(args)
    os.makedirs(run.path("tmp"), exist_ok=True)
    os.environ["TMPDIR"] = run.path("tmp")
    try:
        with TreeSampler() as tree:
            WORKLOADS[args.workload](run)
        _cost_metrics(run, tree)
        if args.trace:
            run.layers["tracing_overhead_s"] = run.tracer.overhead_s
            run.layers.setdefault("substrate_entries", 0)
            run.report["tracing_overhead_s"] = run.tracer.overhead_s
            run.tracer.dump(os.path.join(OUT_DIR, "traces", f"{args.workload}-{args.seed}.json"))
        metrics = contract_metrics(run)
    finally:
        run.close()
        shutil.rmtree(run.work, ignore_errors=True)
    run.report["failed_frac"] = run.failed / max(1, run.attempted)
    run.report["wall_s"] = time.time() - T_START
    run.report["e2e"] = run.e2e
    run.report["per_layer"] = run.layers
    print(json.dumps(run.report, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
