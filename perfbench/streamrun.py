"""Runs a sink workload as a Structured Streaming query over a directory of
staged Kafka-schema parquet files, the way production runs it over Kafka:

    readStream.parquet → sources.kafka.normalize_kafka_records
      → streaming.pipeline.start_sink_stream (foreachBatch)
      → process_micro_batch → operators.cassandra_writer.write_routed
      → fake Cassandra session

The benchmark's own code sits only at the edges: a wrapper around
``write_routed`` (the writer ``start_sink_stream`` is given), a dead-letter
sink that counts what it receives, and the reading of Spark's progress
reports and checkpoint logs afterwards.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass
from datetime import datetime

from kafka_sink_spark.operators.cassandra_writer import write_routed
from kafka_sink_spark.sources.kafka import normalize_kafka_records
from kafka_sink_spark.streaming.pipeline import SinkMetrics, start_sink_stream

from perfbench import fakecass, stage
from perfbench.common import Tracer, write_job_tasks
from perfbench.sink import SinkSpec, fake_session_maps

SHELL_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                "commitOffsets")


@dataclass
class StreamResult:
    progress: list[dict]
    batch_files: dict[int, list[str]]
    writer_s: dict[int, float]
    writer_acc: dict[int, dict]
    writer_tasks: dict[int, int]
    dead_letters: int
    metrics: SinkMetrics


def _acc_delta(after: dict, before: dict) -> dict:
    return {k: v - before.get(k, 0) for k, v in after.items() if v != before.get(k, 0)}


class SinkStream:
    """One streaming query of the sink over ``src_dir``."""

    def __init__(self, spark, spec: SinkSpec, src_dir: str, ckpt: str, acc,
                 tracer: Tracer, max_files_per_trigger: int | None):
        self.spark = spark
        self.spec = spec
        self.src_dir = src_dir
        self.ckpt = ckpt
        self.acc = acc
        self.tracer = tracer
        self.max_files = max_files_per_trigger
        texts, tables = fake_session_maps(spec)
        self.factory = fakecass.session_factory(
            acc, texts, tables, spec.config.max_number_of_records_in_batch
        )
        self.metrics = SinkMetrics()
        self.writer_s: dict[int, float] = {}
        self.writer_acc: dict[int, dict] = {}
        self.writer_tasks: dict[int, int] = {}
        self.dead_letters = 0
        self._lock = threading.Lock()
        self._files: dict[int, list[str]] = {}
        self.query = None

    def _batch_id(self) -> int:
        bid = self.spark.sparkContext.getLocalProperty("streaming.sql.batchId")
        return int(bid) if bid is not None else -1

    def _stream_jobs(self) -> set[int]:
        tracker = self.spark.sparkContext.statusTracker()
        return set(tracker.getJobIdsForGroup(str(self.query.runId))) if self.query else set()

    def writer(self, routed, table, schema):
        """The writer handed to ``start_sink_stream``: ``write_routed`` with
        the fake session, timed; traced runs also take accumulator and job
        snapshots around the call."""
        bid = self._batch_id()
        if self.tracer.enabled:
            t_in = time.time()
            acc0, jobs0 = dict(self.acc.value), self._stream_jobs()
            self.tracer.overhead_s += time.time() - t_in
        t0 = time.time()
        stats = write_routed(routed, table, schema, self.spec.config, self.factory)
        t1 = time.time()
        with self._lock:
            self.writer_s[bid] = self.writer_s.get(bid, 0.0) + (t1 - t0)
        if self.tracer.enabled:
            delta = _acc_delta(dict(self.acc.value), acc0)
            tasks = write_job_tasks(self.spark, sorted(self._stream_jobs() - jobs0))
            with self._lock:
                cur = self.writer_acc.setdefault(bid, {})
                for k, v in delta.items():
                    cur[k] = cur.get(k, 0) + v
                self.writer_tasks[bid] = self.writer_tasks.get(bid, 0) + tasks
            self.tracer.add("write_routed", t0, t1, bid, table=f"{table.keyspace}.{table.table}")
            self.tracer.overhead_s += time.time() - t1
        return stats

    def error_sink(self, bad, table):
        """Dead-letter sink: consumes and counts the diverted records."""
        t0 = time.time()
        n = bad.count()
        with self._lock:
            self.dead_letters += n
        self.tracer.add("dead_letter_sink", t0, time.time(), self._batch_id(),
                        table=f"{table.keyspace}.{table.table}", rows=n)

    def start(self) -> None:
        reader = self.spark.readStream.schema(stage.KAFKA_DDL)
        if self.max_files:
            reader = reader.option("maxFilesPerTrigger", str(self.max_files))
        records = normalize_kafka_records(reader.parquet(self.src_dir))
        self.query = start_sink_stream(
            self.spark, records, self.spec.config, self.spec.schemas, self.ckpt,
            self.writer, value_schemas=self.spec.value_schemas, metrics=self.metrics,
            error_sink=self.error_sink,
        )

    def committed_files(self) -> dict[int, list[str]]:
        """batch id → input files, for every batch in the commit log. Each
        batch's entry in the file source's log is read once."""
        commits = os.path.join(self.ckpt, "commits")
        names = os.listdir(commits) if os.path.isdir(commits) else []
        for bid in sorted(int(n) for n in names if n.isdigit()):
            if bid not in self._files:
                self._files[bid] = self._source_files(bid)
        return dict(self._files)

    def _source_files(self, bid: int) -> list[str]:
        """Input files of batch ``bid`` from ``sources/0/<bid>``, or from
        the ``<bid>.compact`` file that replaces it every tenth batch."""
        log = os.path.join(self.ckpt, "sources", "0", str(bid))
        if not os.path.exists(log):
            log += ".compact"
        files: list[str] = []
        with open(log) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                path = entry["path"].removeprefix("file://")
                if entry["batchId"] == bid and path not in files:
                    files.append(path)
        return files

    def wait_committed(self, n_files: int, timeout: float) -> bool:
        """Block until ``n_files`` input files are committed."""
        end = time.time() + timeout
        while time.time() < end:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if sum(len(v) for v in self.committed_files().values()) >= n_files:
                return True
            time.sleep(0.05)
        return False

    def stop(self) -> StreamResult:
        self.query.stop()
        self.query.awaitTermination(60)
        progress = [json.loads(p.json) for p in self.query.recentProgress]
        return StreamResult(
            progress=progress,
            batch_files=self.committed_files(),
            writer_s=self.writer_s,
            writer_acc=self.writer_acc,
            writer_tasks=self.writer_tasks,
            dead_letters=self.dead_letters,
            metrics=self.metrics,
        )


def progress_start(p: dict) -> float:
    """Wall-clock start of a micro-batch: its trigger timestamp."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def progress_end(p: dict) -> float:
    """Wall-clock end of a micro-batch, after its commit."""
    return progress_start(p) + p["batchDuration"] / 1000.0


class Pacer:
    """Open-loop release generator: one thread moves pre-staged files into
    the source directory by atomic rename on a schedule fixed at start
    (``due_i = t0 + i * interval``); it never slows down when the sink
    does. Records each file's due and actual release time."""

    def __init__(self, staged: list[str], src_dir: str, interval: float):
        self.staged = staged
        self.src_dir = src_dir
        self.interval = interval
        self.due: dict[str, float] = {}
        self.released: dict[str, float] = {}
        self._thread = threading.Thread(target=self._run, name="pacer", daemon=True)

    def start(self, t0: float) -> None:
        for i, path in enumerate(self.staged):
            self.due[os.path.join(self.src_dir, os.path.basename(path))] = t0 + i * self.interval
        self._thread.start()

    def _run(self) -> None:
        for path in self.staged:
            dst = os.path.join(self.src_dir, os.path.basename(path))
            wait = self.due[dst] - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(path, dst)
            self.released[dst] = time.time()

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)

    def lateness(self) -> list[float]:
        return [self.released[p] - self.due[p] for p in self.released]
