"""The two sink workloads' connector configs and their DuckDB oracle.

``keyed_drain``: one table keyed by ``user_id``; every record is an INSERT
with the record-timestamp writetime, batched on the partition key.

``fanout_paced``: topic ``clicks`` fans out to two tables keyed by
``event_id`` under ``ignoreErrors=All``: ``clicks_ttl`` (static TTL, every
column from the value, so a null payload routes as a DELETE) and
``clicks_by_source`` (one column from the ``source`` header, so a null
payload stays an INSERT that binds UNSET). Records on the unconfigured
topic are skipped; malformed JSON goes to the dead-letter sink once per
table.

The oracle re-derives, with DuckDB SQL over the staged parquet files, the
outcome of every record: a statement (table, kind, bound params), a dead
letter, or an unknown-topic skip. Statements are folded into the same
order-independent digest the fake session computes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType, StructField, StructType

from kafka_sink_spark.config import ColumnSpec, SinkConfig, TableConfig, TableSchema
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.operators.cassandra_writer import statement_texts

from perfbench import stage
from perfbench.fakecass import DIGEST_MOD, statement_hash

FANOUT_TTL_S = 86_400


@dataclass
class SinkSpec:
    config: SinkConfig
    schemas: dict
    value_schemas: dict


def drain_spec() -> SinkSpec:
    schema = TableSchema(
        "ks", "user_events",
        [
            ColumnSpec("user_id", "bigint", primary_key=True),
            ColumnSpec("event_id", "bigint", primary_key=True),
            ColumnSpec("event_type", "string"),
            ColumnSpec("amount", "double"),
            ColumnSpec("k", "int"),
        ],
    )
    table = TableConfig(
        stage.DRAIN_TOPIC, "ks", "user_events",
        parse_mapping(
            "user_id=key, event_id=value.event_id, event_type=value.event_type, "
            "amount=value.amount, k=value.k"
        ),
    )
    vs = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("amount", DoubleType()),
            StructField("k", IntegerType()),
        ]
    )
    return SinkSpec(
        SinkConfig(tables=[table]), {("ks", "user_events"): schema}, {stage.DRAIN_TOPIC: vs}
    )


def fanout_spec() -> SinkSpec:
    ttl_schema = TableSchema(
        "ks", "clicks_ttl",
        [
            ColumnSpec("event_id", "bigint", primary_key=True),
            ColumnSpec("user_id", "bigint"),
            ColumnSpec("event_type", "string"),
            ColumnSpec("amount", "double"),
        ],
    )
    src_schema = TableSchema(
        "ks", "clicks_by_source",
        [
            ColumnSpec("event_id", "bigint", primary_key=True),
            ColumnSpec("source", "string"),
            ColumnSpec("user_id", "bigint"),
            ColumnSpec("k", "int"),
        ],
    )
    ttl_table = TableConfig(
        stage.FANOUT_TOPIC, "ks", "clicks_ttl",
        parse_mapping(
            "event_id=key, user_id=value.user_id, event_type=value.event_type, "
            "amount=value.amount"
        ),
        ttl=FANOUT_TTL_S,
    )
    src_table = TableConfig(
        stage.FANOUT_TOPIC, "ks", "clicks_by_source",
        parse_mapping("event_id=key, source=header.source, user_id=value.user_id, k=value.k"),
    )
    vs = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("amount", DoubleType()),
            StructField("k", IntegerType()),
        ]
    )
    return SinkSpec(
        SinkConfig(tables=[ttl_table, src_table], ignore_errors="All"),
        {("ks", "clicks_ttl"): ttl_schema, ("ks", "clicks_by_source"): src_schema},
        {stage.FANOUT_TOPIC: vs},
    )


def fake_session_maps(spec: SinkSpec) -> tuple[dict, dict]:
    """(cql text → (table, kind), table → (partition key, primary key, CL))
    for the fake session."""
    texts, tables = {}, {}
    for t in spec.config.tables:
        schema = spec.schemas[(t.keyspace, t.table)]
        name = f"{t.keyspace}.{t.table}"
        for kind, cql in statement_texts(t, schema).items():
            texts[cql] = (name, kind)
        tables[name] = (tuple(schema.partition_key), tuple(schema.primary_key), t.consistency_level)
    return texts, tables


# ---------------------------------------------------------------- oracle

# Per workload: (table, kind, SQL over view ``r`` yielding the params).
# ``__unset__`` marks a column bound as UNSET (null under nullToUnset).
_DRAIN_SQL = [
    (
        "ks.user_events", "insert",
        """SELECT CAST(decode(key) AS BIGINT) AS user_id,
                  CAST(json_extract(decode(value), '$.event_id') AS BIGINT) AS event_id,
                  json_extract_string(decode(value), '$.event_type') AS event_type,
                  CAST(json_extract(decode(value), '$.amount') AS DOUBLE) AS amount,
                  CAST(json_extract(decode(value), '$.k') AS INTEGER) AS k,
                  epoch_us(timestamp) AS message_internal_timestamp
           FROM r WHERE topic = 'events'""",
    ),
]

_GOOD = "topic = 'clicks' AND value IS NOT NULL AND json_valid(decode(value))"
_NULL = "topic = 'clicks' AND value IS NULL"
_SOURCE = "decode(list_filter(headers, h -> h.key = 'source')[1].value)"
_FANOUT_SQL = [
    (
        "ks.clicks_ttl", "insert_ttl",
        f"""SELECT CAST(decode(key) AS BIGINT) AS event_id,
                   CAST(json_extract(decode(value), '$.user_id') AS BIGINT) AS user_id,
                   json_extract_string(decode(value), '$.event_type') AS event_type,
                   CAST(json_extract(decode(value), '$.amount') AS DOUBLE) AS amount,
                   epoch_us(timestamp) AS message_internal_timestamp,
                   {FANOUT_TTL_S} AS message_internal_ttl
            FROM r WHERE {_GOOD}""",
    ),
    (
        "ks.clicks_ttl", "delete",
        f"SELECT CAST(decode(key) AS BIGINT) AS event_id FROM r WHERE {_NULL}",
    ),
    (
        "ks.clicks_by_source", "insert",
        f"""SELECT CAST(decode(key) AS BIGINT) AS event_id,
                   {_SOURCE} AS source,
                   CAST(json_extract(decode(value), '$.user_id') AS BIGINT) AS user_id,
                   CAST(json_extract(decode(value), '$.k') AS INTEGER) AS k,
                   epoch_us(timestamp) AS message_internal_timestamp
            FROM r WHERE {_GOOD}""",
    ),
    (
        "ks.clicks_by_source", "insert",
        f"""SELECT CAST(decode(key) AS BIGINT) AS event_id,
                   {_SOURCE} AS source,
                   '__unset__' AS user_id, '__unset__' AS k,
                   epoch_us(timestamp) AS message_internal_timestamp
            FROM r WHERE {_NULL}""",
    ),
]

_COUNTS_SQL = f"""
SELECT count(*) AS records,
       count(*) FILTER (WHERE topic NOT IN ('events', 'clicks')) AS unknown,
       count(*) FILTER (WHERE topic = 'clicks' AND value IS NOT NULL
                        AND NOT json_valid(decode(value))) AS malformed
FROM r"""


def oracle(files: list[str], workload: str, n_tables: int) -> dict:
    """Expected outcome totals for ``files``: record count, unknown-topic
    skips, dead letters, statements per ``kind:<table>:<kind>`` and the
    statement digest."""
    import duckdb

    from kafka_sink_spark.operators.cassandra_writer import UNSET

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET threads = 2")
        listing = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        con.execute(f"CREATE VIEW r AS SELECT * FROM read_parquet([{listing}])")
        records, unknown, malformed = con.execute(_COUNTS_SQL).fetchone()
        out = {
            "records": records,
            "unknown": unknown,
            "dead_letters": malformed * n_tables,
            "digest": 0,
            "statements": 0,
        }
        for table, kind, sql in _DRAIN_SQL if workload == "drain" else _FANOUT_SQL:
            res = con.execute(sql)
            names = [d[0] for d in res.description]
            digest = 0
            n = 0
            for row in res.fetchall():
                params = {
                    k: (UNSET if v == "__unset__" else v) for k, v in zip(names, row)
                }
                digest += statement_hash(table, kind, params)
                n += 1
            key = f"kind:{table}:{kind}"
            out[key] = out.get(key, 0) + n
            out["statements"] += n
            out["digest"] = (out["digest"] + digest) % DIGEST_MOD
        return out
    finally:
        con.close()
