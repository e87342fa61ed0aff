"""Cassandra writer tests with a fake driver session: statement preparation,
partition-key batching (W8), route dispatch (W1-W5), nullToUnset (W6), and
the frame accounting the Simulacron reference tests pin."""

import os
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark.config import ColumnSpec, SinkConfig, TableConfig, TableSchema
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.operators.cassandra_writer import (
    UNSET,
    statement_texts,
    write_routed,
)
from kafka_sink_spark.session import load_tables
from kafka_sink_spark.streaming.pipeline import process_micro_batch

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Executor python workers can't import pytest test modules by name — ship
# this module's classes by value inside the task closure instead.
from pyspark import cloudpickle  # noqa: E402

cloudpickle.register_pickle_by_value(sys.modules[__name__])


class _FakeFuture:
    def result(self):
        return None


class FakeSession:
    """cassandra-driver Session lookalike recording every frame."""

    def __init__(self, log_dir):
        self.log_dir = log_dir

    def prepare(self, cql):
        return cql  # the "prepared statement" is just its text

    def _log(self, line):
        path = os.path.join(self.log_dir, f"{os.getpid()}.log")
        with open(path, "a") as f:
            f.write(line + "\n")

    def execute_async(self, stmt, params=None):
        # by-value pickling clones the sentinel → compare by repr, not identity
        unset = sum(1 for v in (params or {}).values() if repr(v) == repr(UNSET))
        self._log(f"EXECUTE\t{stmt}\t{len(params or {})}\t{unset}")
        return _FakeFuture()

    def execute_batch(self, stmts, consistency_level=None):
        self._log(f"BATCH\t{len(stmts)}\t{consistency_level}")
        return _FakeFuture()


def _factory_for(log_dir):
    def factory():
        return FakeSession(log_dir)

    return factory


def _read_log(log_dir):
    lines = []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            lines.extend(f.read().splitlines())
    return lines


def _sink(records, table, schema, vs):
    """The routed frame of ``table``: one micro-batch of ``records`` through
    ``process_micro_batch`` with no writer."""
    out = process_micro_batch(
        records, SinkConfig([table]), {(table.keyspace, table.table): schema},
        value_schemas={table.topic: vs},
    )
    return out[f"{table.keyspace}.{table.table}"]


def _routed(spark, null_every=None, deletes_enabled=True):
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    value = F.concat(
        F.lit('{"k": '),
        F.when(
            F.col("event_id") % (null_every or 10**9) == 0, F.lit("null")
        ).otherwise(F.get_json_object("props", "$.k")),
        F.lit("}"),
    )
    records = events.select(
        F.lit("events").alias("topic"), F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"), F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"), value.alias("value"),
    )
    schema = TableSchema(
        "ks", "t",
        [ColumnSpec("upk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    table = TableConfig(
        "events", "ks", "t", parse_mapping("upk=key, kcol=value.k"),
        deletes_enabled=deletes_enabled,
    )
    from pyspark.sql.types import IntegerType, StructField, StructType

    vs = StructType([StructField("k", IntegerType())])
    return _sink(records, table, schema, vs), table, schema


def test_statement_texts_match_reference_shapes():
    schema = TableSchema(
        "ks", "t",
        [ColumnSpec("a", "bigint", primary_key=True), ColumnSpec("b", "int")],
    )
    table = TableConfig("x", "ks", "t", parse_mapping("a=key, b=value.b"))
    texts = statement_texts(table, schema)
    assert texts["insert"] == (
        "INSERT INTO ks.t(a,b) VALUES (:a,:b) "
        "USING TIMESTAMP :message_internal_timestamp"
    )
    assert texts["insert_ttl"].endswith(" AND TTL :message_internal_ttl")
    # TTL with no writetime must not lose the TTL (and must not bind a null
    # USING TIMESTAMP): dedicated timestamp-free TTL template.
    assert texts["insert_plain_ttl"] == (
        "INSERT INTO ks.t(a,b) VALUES (:a,:b) USING TTL :message_internal_ttl"
    )
    assert texts["delete"] == "DELETE FROM ks.t WHERE a=:a"


def test_plain_ttl_route(spark, tmp_path):
    """A row with a TTL but no writetime routes to insert_plain_ttl and binds
    the TTL (previously it fell to insert_plain and silently dropped it)."""
    import json

    from kafka_sink_spark.operators.writes import ROUTE_COL, TTL_COL, WRITETIME_COL

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    schema = TableSchema(
        "ks", "t",
        [ColumnSpec("a", "bigint", primary_key=True), ColumnSpec("b", "int")],
    )
    table = TableConfig("x", "ks", "t", parse_mapping("a=key, b=value.b"))
    routed = spark.createDataFrame(
        [("INSERT", 1, 2, None, 60)],
        f"{ROUTE_COL} string, a bigint, b int, {WRITETIME_COL} bigint, {TTL_COL} bigint",
    )
    cfg = SinkConfig(tables=[table])
    write_routed(routed, table, schema, cfg, _param_factory(log_dir))
    (line,) = _read_log(log_dir)
    sent = json.loads(line.split("\t", 1)[1])
    kind = {v: k for k, v in statement_texts(table, schema).items()}[sent["cql"]]
    params = sent["params"]
    assert kind == "insert_plain_ttl"
    assert params["message_internal_ttl"] == 60
    assert "message_internal_timestamp" not in params


def test_writer_agrees_with_cql_statement_row_by_row(spark, tmp_path):
    """The statements the writer executes are, as a multiset, the
    ``cql_statement`` column of the same routed rows: records hitting
    insert, insert_ttl, insert_plain, insert_plain_ttl (a null record
    timestamp gives no writetime) and delete, and a counter table."""
    import json
    from collections import Counter
    from datetime import datetime

    from pyspark.sql.types import IntegerType, StructField, StructType

    from kafka_sink_spark.operators.writes import cql_statement

    ts = datetime(2020, 1, 1)
    records = spark.createDataFrame(
        [
            ("t", 0, 0, ts, "1", '{"v": 1}'),
            ("t", 0, 1, None, "2", '{"v": 2}'),
            ("t", 0, 2, ts, "3", '{"v": null}'),
            ("t", 0, 3, ts, "3", '{"v": 4}'),
        ],
        "topic string, partition int, offset long, timestamp timestamp, "
        "key string, value string",
    )
    vs = StructType([StructField("v", IntegerType())])
    plain = TableSchema(
        "ks", "t",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v", "int")],
    )
    counter = TableSchema(
        "ks", "n",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("c", "bigint", counter=True),
        ],
    )
    mapping = parse_mapping("pk=key, v=value.v")
    cases = [
        (TableConfig("t", "ks", "t", mapping), plain),
        (TableConfig("t", "ks", "t", mapping, ttl=60), plain),
        (TableConfig("t", "ks", "n", parse_mapping("pk=key, c=value.v")), counter),
    ]
    seen = set()
    for n, (table, schema) in enumerate(cases):
        log_dir = str(tmp_path / f"log{n}")
        os.makedirs(log_dir)
        routed = _sink(records, table, schema, vs)
        expected = Counter(
            r[0] for r in routed.select(cql_statement(table, schema)).collect()
        )
        cfg = SinkConfig(tables=[table])
        write_routed(routed, table, schema, cfg, _param_factory(log_dir))
        sent = []
        for line in _read_log(log_dir):
            frame = json.loads(line.split("\t", 1)[1])
            sent += frame.get("stmts", [frame])
        assert Counter(s["cql"] for s in sent) == expected
        kind_of = {v: k for k, v in statement_texts(table, schema).items()}
        seen |= {kind_of[text] for text in expected}
        if schema.counters:
            # the key binds as it is, a null increment as 0
            pairs = sorted((s["params"]["pk"], s["params"]["c"]) for s in sent)
            assert pairs == [(1, 1), (2, 2), (3, 0), (3, 4)]
    assert seen == {
        "insert", "insert_ttl", "insert_plain", "insert_plain_ttl", "delete", "counter",
    }


def test_statement_binds_match_template_placeholders():
    """Every statement kind's bind names are exactly its CQL text's
    ``:name`` placeholders, for plain, static-TTL, clustering, counter and
    provided-query tables."""
    import re

    from kafka_sink_spark.operators.writes import statements

    plain = TableSchema(
        "ks", "t",
        [ColumnSpec("a", "bigint", primary_key=True), ColumnSpec("b", "int")],
    )
    clustering = TableSchema(
        "ks", "c",
        [
            ColumnSpec("p", "bigint", primary_key=True),
            ColumnSpec("s", "bigint", primary_key=True),
            ColumnSpec("v", "string"),
        ],
    )
    counter = TableSchema(
        "ks", "n",
        [
            ColumnSpec("p", "bigint", primary_key=True),
            ColumnSpec("c1", "bigint", counter=True),
            ColumnSpec("c2", "bigint", counter=True),
        ],
    )
    cases = [
        (TableConfig("x", "ks", "t", parse_mapping("a=key, b=value.b")), plain),
        (TableConfig("x", "ks", "t", parse_mapping("a=key"), ttl=60), plain),
        (TableConfig("x", "ks", "c", parse_mapping("p=key, s=value.s, v=value.v")),
         clustering),
        (TableConfig("x", "ks", "n", parse_mapping("p=key, c1=value.a, c2=value.b")),
         counter),
        (
            TableConfig(
                "x", "ks", "t", parse_mapping("a=key, b=value.b"),
                query="UPDATE ks.t SET l = l + [:b] WHERE a = :a",
                deletes_enabled=False,
            ),
            plain,
        ),
    ]
    kinds = set()
    for table, schema in cases:
        for kind, (text, binds) in statements(table, schema).items():
            kinds.add(kind)
            names = [name for name, _src, _null in binds]
            assert len(names) == len(set(names)), (kind, names)
            assert set(names) == set(re.findall(r":(\w+)", text)), (kind, text)
    assert kinds == {
        "insert", "insert_ttl", "insert_plain", "insert_plain_ttl",
        "delete", "counter", "provided",
    }


def test_partition_key_defaults_and_validation():
    """Without explicit flags the FIRST primary-key column is the partition
    key (Cassandra default); flagging a non-PK column is a config error."""
    import pytest

    from kafka_sink_spark.config import ConfigError

    schema = TableSchema(
        "ks", "t",
        [
            ColumnSpec("p", "bigint", primary_key=True),
            ColumnSpec("c", "bigint", primary_key=True),
            ColumnSpec("v", "int"),
        ],
    )
    assert schema.partition_key == ["p"]
    assert schema.clustering_columns == ["c"]
    with pytest.raises(ConfigError):
        TableSchema(
            "ks", "t",
            [
                ColumnSpec("p", "bigint", primary_key=True),
                ColumnSpec("v", "int", partition_key=True),
            ],
        )


def test_batching_groups_on_partition_key(spark):
    """W8: rows sharing a partition key but differing in clustering columns
    co-batch (the reference batches by ROUTING key, not the full PK)."""
    from kafka_sink_spark.operators.writes import partition_key_batches

    schema = TableSchema(
        "ks", "t",
        [
            ColumnSpec("p", "bigint", primary_key=True),
            ColumnSpec("seq", "bigint", primary_key=True),
            ColumnSpec("v", "int"),
        ],
    )
    # 2 partitions x 40 clustering values
    df = spark.range(80).select(
        (F.col("id") % 2).alias("p"), F.col("id").alias("seq"), F.lit(1).alias("v")
    )
    out = partition_key_batches(df, schema, max_batch=32).collect()
    assert len(out) == 2  # one row per PARTITION, not per (p, seq)
    assert all(r.n_statements == 40 and r.n_frames == 2 for r in out)


def test_writer_cobatches_clustering_rows(spark, tmp_path):
    """The physical writer's run detection also keys on the partition key:
    40 rows of one partition -> ceil(40/32) = 2 frames, not 40 singles."""
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    schema = TableSchema(
        "ks", "t",
        [
            ColumnSpec("p", "bigint", primary_key=True),
            ColumnSpec("seq", "bigint", primary_key=True),
            ColumnSpec("v", "int"),
        ],
    )
    table = TableConfig("x", "ks", "t", parse_mapping("p=key, seq=value.s, v=value.v"))
    from kafka_sink_spark.operators.writes import ROUTE_COL, TTL_COL, WRITETIME_COL

    routed = spark.range(80).select(
        (F.col("id") % 2).alias("p"), F.col("id").alias("seq"), F.lit(1).alias("v"),
        F.lit("INSERT").alias(ROUTE_COL), F.lit(1000).alias(WRITETIME_COL),
        F.lit(None).cast("long").alias(TTL_COL), F.col("id").alias("_kafka_offset"),
    )
    cfg = SinkConfig(tables=[table], max_number_of_records_in_batch=32)
    stats = write_routed(routed, table, schema, cfg, _factory_for(log_dir))
    assert stats["rows"] == 80
    assert stats["batches"] == 4 and stats["singles"] == 0  # 2 parts x 2 frames


def test_write_batches_and_frames(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    routed, table, schema = _routed(spark)
    cfg = SinkConfig(tables=[table], max_number_of_records_in_batch=32)
    stats = write_routed(routed, table, schema, cfg, _factory_for(log_dir))

    n_rows = routed.count()
    assert stats["rows"] == n_rows
    lines = _read_log(log_dir)
    batch_lines = [l for l in lines if l.startswith("BATCH")]
    exec_lines = [l for l in lines if l.startswith("EXECUTE")]
    assert len(batch_lines) == stats["batches"]
    assert len(exec_lines) == stats["singles"]
    # 1000 events over 15 users: every user has >1 event → all frames are
    # batches, each ≤ 32 statements, totals add up.
    total_in_batches = sum(int(l.split("\t")[1]) for l in batch_lines)
    assert total_in_batches + len(exec_lines) == n_rows
    assert all(int(l.split("\t")[1]) <= 32 for l in batch_lines)
    # frame math per key: ceil(n_k / 32) — same rule as sink_batching
    expected_frames = (
        routed.groupBy("upk").count()
        .select(F.ceil(F.col("count") / 32).cast("long").alias("f"))
        .agg(F.sum("f")).collect()[0][0]
    )
    assert stats["batches"] + stats["singles"] == expected_frames


def test_null_to_unset_binding(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    # deletes disabled: null non-PK values stay INSERTs and bind as UNSET
    # (with deletes on, full-coverage null rows become DELETEs instead).
    routed, table, schema = _routed(spark, null_every=3, deletes_enabled=False)
    # keep each row an individual EXECUTE so the unset count is per-row
    cfg = SinkConfig(tables=[table], max_number_of_records_in_batch=1)
    write_routed(routed, table, schema, cfg, _factory_for(log_dir))
    lines = _read_log(log_dir)
    with_unset = [l for l in lines if l.endswith("\t1")]
    n_null = routed.filter(F.col("kcol").isNull()).count()
    assert n_null > 0
    assert len(with_unset) == n_null


def test_provided_query_without_partition_key_columns(spark, tmp_path):
    """A provided query binds its own names (x, y), so the routed frame has
    none of the table's partition-key columns: every row is its own
    EXECUTE, never a BATCH that could span partitions."""
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    from pyspark.sql.types import IntegerType, StructField, StructType

    records = spark.range(5).select(
        F.lit("t").alias("topic"), F.lit(0).alias("partition"),
        F.col("id").alias("offset"), F.current_timestamp().alias("timestamp"),
        F.lit("same-key").alias("key"),
        F.concat(F.lit('{"f": '), F.col("id").cast("string"), F.lit("}")).alias("value"),
    )
    schema = TableSchema(
        "ks", "t",
        [ColumnSpec("a", "text", primary_key=True), ColumnSpec("b", "int")],
    )
    table = TableConfig(
        "t", "ks", "t", parse_mapping("x=key, y=value.f"),
        query="INSERT INTO ks.t (a, b) VALUES (:x, :y)", deletes_enabled=False,
    )
    vs = StructType([StructField("f", IntegerType())])
    routed = _sink(records, table, schema, vs)
    cfg = SinkConfig(tables=[table], max_number_of_records_in_batch=32)
    stats = write_routed(routed, table, schema, cfg, _factory_for(log_dir))

    lines = _read_log(log_dir)
    assert sum(l.startswith("EXECUTE") for l in lines) == 5
    assert sum(l.startswith("BATCH") for l in lines) == 0
    assert (stats["rows"], stats["singles"], stats["batches"]) == (5, 5, 0)


class _AwaitLoggingFuture:
    def __init__(self, session, n):
        self.session = session
        self.n = n

    def result(self):
        self.session._log(f"AWAIT\t{self.session.sid}\t{self.n}")
        if self.n == self.session.FAIL_AT:
            raise RuntimeError("server error: write timeout")


class KthFailingSession(FakeSession):
    """Logs every request it is sent and every result read; the FAIL_AT-th
    request's result raises."""

    FAIL_AT = 3

    def __init__(self, log_dir):
        import uuid

        super().__init__(log_dir)
        self.sid = uuid.uuid4().hex
        self.sent = 0

    def _send(self):
        self.sent += 1
        self._log(f"SEND\t{self.sid}\t{self.sent}")
        return _AwaitLoggingFuture(self, self.sent)

    def execute_async(self, stmt, params=None):
        return self._send()

    def execute_batch(self, stmts, consistency_level=None):
        return self._send()


def test_failed_write_drains_in_flight_window(spark, tmp_path):
    """When a request fails, every request still in flight is awaited
    before the failure leaves the task, so a retried batch never overlaps
    the failed attempt's writes. 12 singles of one partition key go through
    one task with an 8-request window; the 3rd fails while 4-10 are in
    flight."""
    import pytest

    from kafka_sink_spark.operators.writes import ROUTE_COL, TTL_COL, WRITETIME_COL

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    schema = TableSchema(
        "ks", "t",
        [
            ColumnSpec("p", "bigint", primary_key=True),
            ColumnSpec("seq", "bigint", primary_key=True),
        ],
    )
    table = TableConfig("x", "ks", "t", parse_mapping("p=key, seq=value.s"))
    routed = spark.range(12).select(
        F.lit(7).cast("bigint").alias("p"), F.col("id").alias("seq"),
        F.lit("INSERT").alias(ROUTE_COL), F.lit(1000).alias(WRITETIME_COL),
        F.lit(None).cast("long").alias(TTL_COL),
    )
    cfg = SinkConfig(
        tables=[table], max_number_of_records_in_batch=1, max_concurrent_requests=8
    )

    def factory():
        return KthFailingSession(log_dir)

    with pytest.raises(Exception, match="write timeout"):
        write_routed(routed, table, schema, cfg, factory)

    sent: dict[str, set] = {}
    awaited: dict[str, set] = {}
    for line in _read_log(log_dir):
        kind, sid, n = line.split("\t")
        (sent if kind == "SEND" else awaited).setdefault(sid, set()).add(int(n))
    assert sent, "the write task never ran"
    for sid, ns in sent.items():
        assert max(ns) > KthFailingSession.FAIL_AT + 1  # requests were in flight
        assert awaited.get(sid) == ns


class _Prepared:
    def __init__(self, cql):
        self.cql = cql
        self.consistency_level = None


class PrepareLoggingSession(FakeSession):
    """Logs every prepare and the consistency level each EXECUTE carries."""

    def prepare(self, cql):
        self._log(f"PREPARE\t{cql}")
        return _Prepared(cql)

    def execute_async(self, stmt, params=None):
        self._log(f"EXECUTE\t{stmt.consistency_level}")
        return _FakeFuture()


def test_writer_prepares_each_kind_on_first_use(spark, tmp_path):
    """A task prepares only the statement kinds its rows need, each once,
    and gives each the table's consistency level (W7). One partition key
    puts all 12 rows (9 INSERTs, 3 DELETEs) in one task."""
    from kafka_sink_spark.operators.writes import ROUTE_COL, TTL_COL, WRITETIME_COL

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    schema = TableSchema(
        "ks", "t",
        [
            ColumnSpec("p", "bigint", primary_key=True),
            ColumnSpec("seq", "bigint", primary_key=True),
        ],
    )
    table = TableConfig(
        "x", "ks", "t", parse_mapping("p=key, seq=value.s"),
        consistency_level="QUORUM",
    )
    routed = spark.range(12).select(
        F.lit(7).cast("bigint").alias("p"), F.col("id").alias("seq"),
        F.when(F.col("id") % 4 == 0, "DELETE").otherwise("INSERT").alias(ROUTE_COL),
        F.lit(1000).alias(WRITETIME_COL), F.lit(None).cast("long").alias(TTL_COL),
    )
    cfg = SinkConfig(tables=[table], max_number_of_records_in_batch=1)

    def factory():
        return PrepareLoggingSession(log_dir)

    assert write_routed(routed, table, schema, cfg, factory)["singles"] == 12
    lines = _read_log(log_dir)
    texts = statement_texts(table, schema)
    prepared = sorted(l.split("\t", 1)[1] for l in lines if l.startswith("PREPARE"))
    assert prepared == sorted([texts["insert"], texts["delete"]])
    assert [l for l in lines if l.startswith("EXECUTE")] == ["EXECUTE\tQUORUM"] * 12


def test_writer_coalesces_presplit_partition_key(spark, tmp_path):
    """VERDICT r3 #3 (reference SimpleEndToEndSimulacronIT.java:776-875): a
    partition key arriving scattered across many upstream Spark partitions
    must still produce exactly ceil(n_key/32) wire frames — write_routed
    repartitions on the routing key before run detection, so scattering
    cannot inflate the frame count or break the <=32 cap."""
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    schema = TableSchema(
        "ks", "t",
        [
            ColumnSpec("p", "bigint", primary_key=True),
            ColumnSpec("seq", "bigint", primary_key=True),
            ColumnSpec("v", "int"),
        ],
    )
    table = TableConfig("x", "ks", "t", parse_mapping("p=key, seq=value.s, v=value.v"))
    from kafka_sink_spark.operators.writes import ROUTE_COL, TTL_COL, WRITETIME_COL

    # 3 keys x 70 rows, deliberately scattered round-robin over 11 partitions
    routed = (
        spark.range(210)
        .select(
            (F.col("id") % 3).alias("p"), F.col("id").alias("seq"),
            F.lit(1).alias("v"), F.lit("INSERT").alias(ROUTE_COL),
            F.lit(1000).alias(WRITETIME_COL),
            F.lit(None).cast("long").alias(TTL_COL),
            F.col("id").alias("_kafka_offset"),
        )
        .repartition(11)
    )
    cfg = SinkConfig(tables=[table], max_number_of_records_in_batch=32)
    stats = write_routed(routed, table, schema, cfg, _factory_for(log_dir))
    assert stats["rows"] == 210
    # per key: ceil(70/32) = 3 frames -> 9 total, none degraded to singles
    assert stats["batches"] == 9 and stats["singles"] == 0
    batch_lines = [l for l in _read_log(log_dir) if l.startswith("BATCH")]
    sizes = sorted(int(l.split("\t")[1]) for l in batch_lines)
    assert all(s <= 32 for s in sizes)
    assert sizes == sorted([32, 32, 6] * 3)


def test_composite_partition_key_batching(spark, tmp_path):
    """VERDICT r3 #3: a COMPOSITE partition key ((p1, p2), seq) batches on
    the full (p1, p2) routing key — rows differing in either component never
    co-batch; rows differing only in clustering seq do."""
    from kafka_sink_spark.operators.writes import (
        ROUTE_COL,
        TTL_COL,
        WRITETIME_COL,
        partition_key_batches,
    )

    schema = TableSchema(
        "ks", "t",
        [
            ColumnSpec("p1", "bigint", primary_key=True, partition_key=True),
            ColumnSpec("p2", "bigint", primary_key=True, partition_key=True),
            ColumnSpec("seq", "bigint", primary_key=True),
            ColumnSpec("v", "int"),
        ],
    )
    assert schema.partition_key == ["p1", "p2"]
    assert schema.clustering_columns == ["seq"]
    # 2 x 2 composite keys, 40 clustering rows each
    df = spark.range(160).select(
        (F.col("id") % 2).alias("p1"), ((F.col("id") / 2).cast("long") % 2).alias("p2"),
        F.col("id").alias("seq"), F.lit(1).alias("v"),
    )
    out = partition_key_batches(df, schema, max_batch=32).collect()
    assert len(out) == 4  # one row per (p1, p2), not per p1 or per full PK
    assert all(r.n_statements == 40 and r.n_frames == 2 for r in out)

    # physical writer agrees with the logical frame math
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    table = TableConfig(
        "x", "ks", "t", parse_mapping("p1=key, p2=value.p2, seq=value.s, v=value.v")
    )
    routed = df.select(
        "p1", "p2", "seq", "v",
        F.lit("INSERT").alias(ROUTE_COL), F.lit(1000).alias(WRITETIME_COL),
        F.lit(None).cast("long").alias(TTL_COL), F.col("seq").alias("_kafka_offset"),
    )
    cfg = SinkConfig(tables=[table], max_number_of_records_in_batch=32)
    stats = write_routed(routed, table, schema, cfg, _factory_for(log_dir))
    assert stats["rows"] == 160
    assert stats["batches"] == 8 and stats["singles"] == 0  # 4 keys x 2 frames


def test_batch_histograms_accounting(spark, tmp_path):
    """KAF-99 equivalent (reference SimpleEndToEndSimulacronIT.java:859-874
    asserts batchSizeHistogram / batchSizeInBytesHistogram): write_routed
    returns bounded per-frame histograms whose totals reconcile with the
    frame and row counts, with byte buckets at powers of two."""
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    schema = TableSchema(
        "ks", "t",
        [
            ColumnSpec("p", "bigint", primary_key=True),
            ColumnSpec("seq", "bigint", primary_key=True),
            ColumnSpec("v", "int"),
        ],
    )
    table = TableConfig("x", "ks", "t", parse_mapping("p=key, seq=value.s, v=value.v"))
    from kafka_sink_spark.operators.writes import ROUTE_COL, TTL_COL, WRITETIME_COL

    routed = spark.range(210).select(
        (F.col("id") % 3).alias("p"), F.col("id").alias("seq"),
        F.lit(1).alias("v"), F.lit("INSERT").alias(ROUTE_COL),
        F.lit(1000).alias(WRITETIME_COL),
        F.lit(None).cast("long").alias(TTL_COL),
        F.col("id").alias("_kafka_offset"),
    )
    cfg = SinkConfig(tables=[table], max_number_of_records_in_batch=32)
    stats = write_routed(routed, table, schema, cfg, _factory_for(log_dir))
    # 3 keys x 70 rows -> frames of [32, 32, 6] per key
    size_hist = stats["batch_size_hist"].buckets
    assert size_hist == {32: 6, 6: 3}
    assert sum(sz * n for sz, n in size_hist.items()) == stats["rows"]
    assert sum(size_hist.values()) == (
        stats["batches"] + stats["singles"]
    )
    bytes_hist = stats["batch_bytes_hist"].buckets
    assert sum(bytes_hist.values()) == stats["rows"]  # one update per statement
    assert all(b == 0 or (b & (b - 1)) == 0 for b in bytes_hist)  # powers of two
    assert any(b > 0 for b in bytes_hist)  # statements carry actual payload
    bs = stats["batch_bytes_hist"]
    assert bs.n == stats["rows"] and 0 < bs.min <= bs.max

    # singles path: cap 1 -> every row is a frame of size 1
    log2 = str(tmp_path / "log2")
    os.makedirs(log2)
    cfg1 = SinkConfig(tables=[table], max_number_of_records_in_batch=1)
    stats1 = write_routed(routed, table, schema, cfg1, _factory_for(log2))
    assert stats1["batch_size_hist"].buckets == {1: 210}
    assert stats1["singles"] == 210 and stats1["batches"] == 0


# ---------------------------------------------------------------------------
# Simulacron wire-shape contract tests
# (reference: SimpleEndToEndSimulacronIT.java:776-961)
# ---------------------------------------------------------------------------


class ParamLoggingSession(FakeSession):
    """FakeSession that also records full statement text + bound params so
    frame SEQUENCES and parameter tuples can be pinned, not just counts."""

    def execute_async(self, stmt, params=None):
        import json

        self._log(
            "EXECUTE\t" + json.dumps({"cql": stmt, "params": params}, default=str)
        )
        return _FakeFuture()

    def execute_batch(self, stmts, consistency_level=None):
        import json

        self._log(
            "BATCH\t"
            + json.dumps(
                {
                    "cl": consistency_level,
                    "stmts": [{"cql": s, "params": p} for s, p in stmts],
                },
                default=str,
            )
        )
        return _FakeFuture()


def _param_factory(log_dir):
    def factory():
        return ParamLoggingSession(log_dir)

    return factory


def _contract_routed(spark, table_name, values, writetime=153000987000):
    """Routed rows mirroring the reference's batch_requests records: all
    share routing key a=42, differ in b, carry the record-timestamp
    writetime (ms 153000987 -> us 153000987000)."""
    from kafka_sink_spark.operators.writes import ROUTE_COL, TTL_COL, WRITETIME_COL

    schema = TableSchema(
        "ks1", table_name,
        [ColumnSpec("a", "int", primary_key=True), ColumnSpec("b", "string")],
    )
    rows = [(42, b) for b in values]
    routed = spark.createDataFrame(rows, "a int, b string").select(
        "a", "b",
        F.lit("INSERT").alias(ROUTE_COL),
        F.lit(writetime).alias(WRITETIME_COL),
        F.lit(None).cast("long").alias(TTL_COL),
        F.monotonically_increasing_id().alias("_kafka_offset"),
    )
    return routed, schema


def test_simulacron_batch_requests_contract(spark, tmp_path):
    """Reference batch_requests (SimpleEndToEndSimulacronIT.java:776-875):
    2 same-key records for mytopic/table1 at LOCAL_ONE and 3 for
    yourtopic/table2 at QUORUM must produce EXACTLY one BATCH frame each
    (2 and 3 statements, correct CLs), zero EXECUTEs, the exact W1
    statement text, the exact bound-parameter tuples, and the KAF-99
    histogram shapes the reference asserts (one batch of N; bytes
    histogram updated per statement with min!=max for differing payloads,
    min==max for same-size payloads)."""
    import json

    cases = [
        # (table, CL, values, expect_bytes_min_eq_max)
        ("table1", "LOCAL_ONE", ["the answer", "the second answer"], False),
        ("table2", "QUORUM", ["topic2 success1", "topic2 success2",
                              "topic2 success3"], True),
    ]
    for tname, cl, values, same_bytes in cases:
        log_dir = str(tmp_path / f"log_{tname}")
        os.makedirs(log_dir)
        routed, schema = _contract_routed(spark, tname, values)
        table = TableConfig(
            "mytopic" if tname == "table1" else "yourtopic",
            "ks1", tname, parse_mapping("a=key, b=value.b"),
            consistency_level=cl,
        )
        cfg = SinkConfig(tables=[table], max_number_of_records_in_batch=32)
        stats = write_routed(routed, table, schema, cfg, _param_factory(log_dir))

        lines = _read_log(log_dir)
        batches = [json.loads(l.split("\t", 1)[1]) for l in lines
                   if l.startswith("BATCH")]
        executes = [l for l in lines if l.startswith("EXECUTE")]
        # exactly one BATCH frame, zero EXECUTEs (reference wire assert)
        assert len(batches) == 1 and len(executes) == 0
        frame = batches[0]
        assert frame["cl"] == cl
        assert len(frame["stmts"]) == len(values)
        # exact W1 template text on every member statement
        expected_cql = (
            f"INSERT INTO ks1.{tname}(a,b) VALUES (:a,:b) "
            "USING TIMESTAMP :message_internal_timestamp"
        )
        assert all(s["cql"] == expected_cql for s in frame["stmts"])
        # exact bound-parameter tuples (a=42, b, writetime 153000987000)
        bound = [
            (s["params"]["a"], s["params"]["b"],
             s["params"]["message_internal_timestamp"])
            for s in frame["stmts"]
        ]
        assert sorted(bound) == sorted((42, b, 153000987000) for b in values)
        # KAF-99 shapes: one batch of N statements
        assert stats["batch_size_hist"].buckets == {len(values): 1}
        bs = stats["batch_bytes_hist"]
        assert bs.n == len(values)
        assert (bs.min == bs.max) == same_bytes


def test_simulacron_fail_batch_marks_all_member_offsets(spark, tmp_path):
    """Reference fail_batch_request (SimpleEndToEndSimulacronIT.java:898-961):
    two same-key records co-batch into ONE frame (no EXECUTEs); when that
    single batch fails, BOTH member records are marked failed — under
    ignoreErrors=All both land in failedRecordCount; under the default
    policy the whole micro-batch raises (Spark retry rewinds both
    offsets, the preCommit equivalent)."""
    import json

    import pytest as _pytest

    from kafka_sink_spark.streaming.pipeline import SinkMetrics, process_micro_batch

    class FailingBatchSession(ParamLoggingSession):
        def execute_batch(self, stmts, consistency_level=None):
            super().execute_batch(stmts, consistency_level)
            raise RuntimeError("server error: bad thing")

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    routed, schema = _contract_routed(
        spark, "table1", ["the answer", "the second answer"]
    )
    table = TableConfig("mytopic", "ks1", "table1", parse_mapping("a=key, b=value.b"))
    cfg = SinkConfig(tables=[table], max_number_of_records_in_batch=32)

    def failing_factory():
        return FailingBatchSession(log_dir)

    def writer(df, t, s):
        return write_routed(df, t, s, cfg, failing_factory)

    # records stream shaped like the pipeline's input; both rows one key
    records = spark.createDataFrame(
        [("mytopic", 0, 1234, None, "42", '{"b": "the answer"}'),
         ("mytopic", 1, 8888, None, "42", '{"b": "the second answer"}')],
        "topic string, partition int, offset long, timestamp timestamp, "
        "key string, value string",
    )
    schemas = {("ks1", "table1"): schema}
    from pyspark.sql.types import StringType, StructField, StructType

    vs = {"mytopic": StructType([StructField("b", StringType())])}

    # ignoreErrors=All: batch failure -> BOTH records counted failed.  The
    # reference's recordCounter increments at the MAPPING stage, so
    # driver-failed records appear in BOTH counters
    # (SimpleEndToEndSimulacronIT.java:562-563: recordCounter=5 with 3
    # driver failures).
    cfg.ignore_errors = "All"
    metrics = SinkMetrics()
    process_micro_batch(
        records, cfg, schemas, value_schemas=vs, writer=writer, metrics=metrics
    )
    assert metrics.failed_record_count["mytopic|ks1.table1"] == 2
    assert metrics.record_count["mytopic|ks1.table1"] == 2
    # wire: exactly one BATCH frame was attempted, zero EXECUTEs
    lines = _read_log(log_dir)
    batches = [json.loads(l.split("\t", 1)[1]) for l in lines
               if l.startswith("BATCH")]
    assert len(batches) == 1 and len(batches[0]["stmts"]) == 2
    assert not [l for l in lines if l.startswith("EXECUTE")]

    # default policy (None): the failure propagates -> batch retry/rewind
    cfg2 = SinkConfig(tables=[table], max_number_of_records_in_batch=32)
    with _pytest.raises(Exception):
        process_micro_batch(records, cfg2, schemas, value_schemas=vs, writer=writer)
