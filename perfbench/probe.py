"""Per-layer self times from noop-forced cumulative prefixes of the sink
path, measured from outside the package on one representative batch:

    P1  sources.kafka.normalize_kafka_records(scan)         scan_normalize_s
    P2  + topic filter + operators.records.decode_records   decode_s
    P3  + split_mapping_errors + mapping.compile_mapping    map_s
        (the codec casts live in the mapping projection)
    P4  + operators.writes.add_ttl_writetime + route_writes ttl_route_s
    P5  + repartition/sort on the partition key             shuffle_sort_s
    P6  operators.cassandra_writer.write_routed             writer_py_s

Each prefix is forced with a ``noop`` write (every column computed,
nothing collected) ``reps`` times and the median kept; a layer's self time
is its prefix minus the previous one, summed over the batch's tables (the
pipeline re-decodes per table). Self times of cheap layers can read
slightly negative when they are within the noise of the prefix timings.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from kafka_sink_spark.mapping.compiler import compile_mapping
from kafka_sink_spark.operators.cassandra_writer import write_routed
from kafka_sink_spark.operators.records import decode_records
from kafka_sink_spark.operators.writes import add_ttl_writetime, route_writes
from kafka_sink_spark.sources.kafka import normalize_kafka_records
from kafka_sink_spark.streaming.pipeline import split_mapping_errors

from perfbench import fakecass, stage
from perfbench.common import write_job_tasks
from perfbench.sink import SinkSpec, fake_session_maps

LAYERS = ("scan_normalize_s", "decode_s", "map_s", "ttl_route_s", "shuffle_sort_s",
          "writer_py_s")


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _median_s(fn, reps: int) -> float:
    return statistics.median(fn() for _ in range(reps))


def layer_probe(spark, spec: SinkSpec, files: list[str], acc, reps: int = 3) -> dict:
    """Self time of each layer over ``files`` (one micro-batch worth), plus
    the writer's frame accounting for one write of that batch."""
    raw = spark.read.schema(stage.KAFKA_DDL).parquet(*files)
    records = normalize_kafka_records(raw)
    p1 = _median_s(lambda: _noop_s(records), reps)
    layers = dict.fromkeys(LAYERS, 0.0)
    layers["scan_normalize_s"] = p1
    texts, tables = fake_session_maps(spec)
    factory = fakecass.session_factory(
        acc, texts, tables, spec.config.max_number_of_records_in_batch
    )
    writer = {"statements": 0, "frames": 0, "singles": 0, "sessions": 0, "prepares": 0,
              "write_tasks": 0}
    group = "perfbench-probe"
    sc = spark.sparkContext
    for table in spec.config.tables:
        schema = spec.schemas[(table.keyspace, table.table)]
        decoded = decode_records(
            records.filter(F.col("topic") == table.topic),
            value_schema=spec.value_schemas.get(table.topic),
        )
        good, _bad = split_mapping_errors(decoded, table)
        mapped = compile_mapping(good, table, schema)
        routed = route_writes(add_ttl_writetime(mapped, table), table, schema)
        pk = [c for c in schema.partition_key if c in routed.columns]
        sort_cols = pk + [c for c in schema.primary_key if c not in pk and c in routed.columns]
        shuffled = routed.repartition(*[F.col(c) for c in pk]).sortWithinPartitions(
            *[F.col(c) for c in sort_cols]
        )
        prefixes = [p1] + [_median_s(lambda d=d: _noop_s(d), reps)
                           for d in (decoded, mapped, routed, shuffled)]

        def write_once() -> float:
            t0 = time.perf_counter()
            write_routed(routed, table, schema, spec.config, factory)
            return time.perf_counter() - t0

        before = dict(acc.value)
        sc.setJobGroup(group, "layer probe write")
        jobs0 = set(sc.statusTracker().getJobIdsForGroup(group))
        p6 = _median_s(write_once, reps)
        jobs = sorted(set(sc.statusTracker().getJobIdsForGroup(group)) - jobs0)
        sc.setLocalProperty("spark.jobGroup.id", None)
        after = dict(acc.value)
        for k in ("statements", "frames", "singles", "sessions", "prepares"):
            writer[k] += (after.get(k, 0) - before.get(k, 0)) / reps
        writer["write_tasks"] += write_job_tasks(spark, jobs)
        for name, lo, hi in zip(LAYERS[1:], prefixes, prefixes[1:] + [p6]):
            layers[name] += hi - lo
    return {"layers": layers, "writer": writer, "records": raw.count()}
