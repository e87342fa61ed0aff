"""Contract gates for the driver-facing catalog surface.

These pin the process invariants that past ADVICE/CORRECTNESS rounds caught
drifting: the driver-window priority list must be exactly the window size
with every name real, and load_tables must hand every query TIMESTAMP (LTZ)
columns regardless of how the testdata parquet encodes them (nanos in early
rounds, micros-NTZ since round 4 — the r04 regression that errored 5
queries and the whole bench)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import TimestampNTZType, TimestampType

from kafka_sink_spark.plans import DRIVER_PRIORITY, ORACLES, QUERIES
from kafka_sink_spark.session import load_tables
from kafka_sink_spark.streaming.pipeline import SinkPlan

DRIVER_WINDOW = 50  # rows the verify driver checks per round, in catalog order


def test_driver_priority_is_exactly_window_sized():
    assert len(DRIVER_PRIORITY) == DRIVER_WINDOW, (
        f"DRIVER_PRIORITY has {len(DRIVER_PRIORITY)} entries for a "
        f"{DRIVER_WINDOW}-row driver window — entries past {DRIVER_WINDOW} "
        "are silently unchecked (ADVICE r04)"
    )


def test_driver_priority_names_resolve_and_lead_catalog():
    assert len(set(DRIVER_PRIORITY)) == len(DRIVER_PRIORITY), "duplicates"
    missing = [q for q in DRIVER_PRIORITY if q not in QUERIES]
    assert not missing, f"priority names not in catalog: {missing}"
    assert list(QUERIES)[: len(DRIVER_PRIORITY)] == DRIVER_PRIORITY


def test_every_query_has_oracle_or_documented_exemption():
    # sink_now_timeuuid is rows-only BY DESIGN (v1 uuids nondeterministic);
    # everything else must carry an oracle so the driver hash-verifies it.
    exempt = {"sink_now_timeuuid"}
    no_oracle = set(QUERIES) - set(ORACLES) - exempt
    assert not no_oracle, f"queries without oracle_sql: {sorted(no_oracle)}"


# sink_* queries that map no records: each certifies a codec, the Avro
# decoder, the topic filter or the config parse alone.
MAPS_NO_RECORDS = {
    "sink_codec_temporals",
    "sink_decimal_base64",
    "sink_consistency_level",
    "sink_topic_routing",
    "sink_avro_union_decode",
}


class _SinkCalled(Exception):
    pass


def test_sink_queries_map_records_through_the_sink_plan(spark, sf_dir, monkeypatch):
    """Every sink_* query that maps records builds its frames with the
    stream's own per-batch body (``SinkPlan.run``), so the oracle certifies
    the path a stream runs, not a second one. A stub that raises at the
    first sink call stops each builder before its own jobs run; the
    exempted queries must build without a sink call."""

    def stub(self, *args, **kwargs):
        raise _SinkCalled

    monkeypatch.setattr(SinkPlan, "run", stub)
    sink_queries = [q for q in QUERIES if q.startswith("sink_")]
    assert MAPS_NO_RECORDS <= set(sink_queries)
    wrong = []
    for name in sink_queries:
        try:
            QUERIES[name](spark, sf_dir)
            calls_sink = False
        except _SinkCalled:
            calls_sink = True
        if calls_sink == (name in MAPS_NO_RECORDS):
            wrong.append(name)
    assert not wrong, f"sink queries off the sink path (or wrongly exempt): {wrong}"


def test_load_tables_timestamps_are_ltz(spark, sf_dir):
    tables = load_tables(spark, sf_dir, ("events", "orders", "lineitem"))
    for name, df in tables.items():
        for f in df.schema.fields:
            assert not isinstance(f.dataType, TimestampNTZType), (
                f"{name}.{f.name} is TIMESTAMP_NTZ — breaks unix_micros/"
                "RANGE frames and diverges from the DuckDB oracle (r04)"
            )
    assert isinstance(tables["events"].schema["ts"].dataType, TimestampType)


def test_load_tables_accepts_directory_parquet(spark, sf_dir, tmp_path):
    """Production tables are DIRECTORIES of part files, not the driver's
    single-file layout — load_tables must handle both (the nanos-schema
    probe used to crash on directories)."""
    src = load_tables(spark, sf_dir, ("events",))["events"]
    out_dir = str(tmp_path / "events.parquet")
    src.limit(100).write.parquet(out_dir)
    loaded = load_tables(spark, str(tmp_path), ("events",))["events"]
    assert loaded.count() == 100
    assert isinstance(loaded.schema["ts"].dataType, TimestampType)
