"""Shared measurement helpers: percentiles, the process-tree CPU and memory
sampler, the in-memory span recorder and the Spark session the benchmark
runs on."""

from __future__ import annotations

import bisect
import json
import os
import statistics
import threading
import time

# Samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10


def tail_rank(n: int) -> int | None:
    """0-based rank, in ascending order, of the highest order statistic
    with at least ``TAIL_BEYOND`` samples above it; None when n is too
    small for one."""
    r = n - 1 - TAIL_BEYOND
    return r if r >= 0 else None


def summarize(values: list[float]) -> dict:
    """Median, tail, the tail's percentile and the sample count. The tail
    is the highest percentile with >= TAIL_BEYOND samples beyond it; when
    that percentile would fall below the median (fewer than
    2 * TAIL_BEYOND + 1 samples) the tail is the maximum and ``tail_pct``
    is None."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"n": 0, "median": None, "tail": None, "tail_pct": None}
    r = tail_rank(n)
    if r is None or r < (n - 1) / 2:
        tail, pct = xs[-1], None
    else:
        tail, pct = xs[r], round(100.0 * r / (n - 1), 1)
    return {"n": n, "median": statistics.median(xs), "tail": tail, "tail_pct": pct}


def _stat(path) -> list[str] | None:
    """Fields of /proc/<path>/stat after the command name (index 1 = ppid,
    11..14 = utime, stime, cutime, cstime in ticks, 21 = rss in pages)."""
    try:
        with open(f"/proc/{path}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def jit_threads(pids: list[int]) -> list[str]:
    """``<pid>/task/<tid>`` of every JIT compiler thread of the JVMs among
    ``pids``."""
    out = []
    for p in pids:
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/comm") as f:
                    name = f.read()
            except OSError:
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                out.append(f"{p}/task/{t}")
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    ppids = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(d)) is not None:
            ppids[int(d)] = int(st[1])
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in ppids.items() if pp == p)
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1 << 20)


class TreeSampler:
    """Samples this process and its descendants (the JVM and the Python
    workers) every ``interval`` seconds on one thread: cumulative CPU
    seconds (user + system, reaped children included), the part of it
    spent by the JVM's JIT compiler threads, and resident memory. The set
    of descendants is re-read every ``rescan`` samples. CPU time does not
    count time stolen from a virtual CPU by its host, so CPU per unit of
    work holds still on a shared machine where wall time does not."""

    def __init__(self, interval: float = 0.1, rescan: int = 10):
        self.interval = interval
        self.rescan = rescan
        # (time, cpu s, jit cpu s, MiB)
        self.samples: list[tuple[float, float, float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="tree-sampler", daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        jit: list[str] = []
        i = 0
        while not self._stop.is_set():
            if i % self.rescan == 0:
                pids = tree_pids(os.getpid())
                jit = jit_threads(pids)
            ticks = jit_ticks = pages = 0
            for p in pids:
                st = _stat(p)
                if st is not None:
                    ticks += sum(int(x) for x in st[11:15])
                    pages += int(st[21])
            for t in jit:
                st = _stat(t)
                if st is not None:
                    jit_ticks += int(st[11]) + int(st[12])
            self.samples.append((time.time(), ticks * _TICK_S, jit_ticks * _TICK_S,
                                 pages * _PAGE_MB))
            i += 1
            self._stop.wait(self.interval)

    def _at(self, t: float, k: int) -> float:
        """Field ``k`` of the samples at ``t``, interpolated."""
        xs = self.samples
        j = bisect.bisect_left(xs, t, key=lambda s: s[0])
        if j == 0:
            return xs[0][k]
        if j == len(xs):
            return xs[-1][k]
        a, b = xs[j - 1], xs[j]
        return a[k] + (b[k] - a[k]) * (t - a[0]) / (b[0] - a[0])

    def cpu_within(self, t0: float, t1: float) -> float:
        """CPU seconds of the tree between ``t0`` and ``t1``."""
        return self._at(t1, 1) - self._at(t0, 1)

    def jit_within(self, t0: float, t1: float) -> float:
        """The JIT compiler threads' share of ``cpu_within``."""
        return self._at(t1, 2) - self._at(t0, 2)

    def rss_median(self, t0: float, t1: float) -> float | None:
        xs = [s[3] for s in self.samples if t0 <= s[0] <= t1]
        return statistics.median(xs) if xs else None

    def rss_peak(self) -> float:
        return max((s[3] for s in self.samples), default=0.0)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans: name, start, end (wall-clock seconds), parent span
    id and trace id (the micro-batch id, or the query name). Disabled
    tracers record nothing. ``overhead_s`` accumulates the time the
    tracer's own callers spend on instrumentation."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0

    def add(self, name: str, start: float, end: float, trace_id, parent: int | None = None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "trace_id": trace_id, **attrs}
        )
        return len(self.spans) - 1

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s}, f)


def write_job_tasks(spark, job_ids) -> int:
    """Tasks of the last stage of the last job in ``job_ids``: for the jobs
    one ``write_routed`` call ran, its ``mapPartitions`` write stage."""
    tracker = spark.sparkContext.statusTracker()
    info = tracker.getJobInfo(max(job_ids)) if job_ids else None
    if info is None or not info.stageIds:
        return 0
    stage_info = tracker.getStageInfo(max(info.stageIds))
    return stage_info.numTasks if stage_info is not None else 0


def start_spark(work: str, cores: int = 4):
    """SparkSession on ``local[cores]`` whose every scratch path lies under
    ``work``. Uses the engine's own ``get_spark`` defaults."""
    from kafka_sink_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # A fixed set of JIT compiler threads, so TreeSampler can tell
            # their CPU apart; the serial collector, whose heap size (and
            # so the process's resident memory) does not wander from run
            # to run the way G1's adaptive sizing does.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                                             "-XX:-UseDynamicNumberOfCompilerThreads "
                                             "-XX:+UseSerialGC",
            "spark.driver.memory": "1g",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.sql.streaming.metricsEnabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )

