"""Write semantics: TTL/writetime computation, insert/delete/counter routing,
partition-key batching, and final-state replay (the no-Cassandra oracle path).

Spark-first design: every rule is a Column expression added to the mapped
DataFrame, so the whole write-side "physical plan" (route decision + ttl/
writetime + CQL shape) is ONE projection that Catalyst fuses with the mapping
stage — no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafka_sink_spark.config import TableConfig, TableSchema, time_unit_to_seconds
from kafka_sink_spark.operators.records import project

ROUTE_COL = "_route"
TTL_COL = "_ttl"
WRITETIME_COL = "_writetime"
ROUTE_INSERT = "INSERT"
ROUTE_DELETE = "DELETE"
ROUTE_COUNTER = "UPDATE_COUNTER"
# The compiler's raw __ttl / __timestamp columns, replaced by _ttl/_writetime.
_MAPPED_TIMES = ("_mapped_ttl", "_mapped_timestamp")

# The driver's UNSET sentinel when the optional package is present, a stable
# stand-in otherwise. The driver compares it by identity, so a bind list
# holding it must be built in the process that executes the statements.
try:  # pragma: no cover - depends on optional package
    from cassandra.query import UNSET_VALUE as UNSET  # type: ignore
except ImportError:  # pragma: no cover

    class _Unset:
        def __repr__(self) -> str:
            return "UNSET"

    UNSET = _Unset()


def add_ttl_writetime(mapped: DataFrame, table: TableConfig) -> DataFrame:
    """Attach ``_ttl`` and ``_writetime`` (:func:`ttl_writetime_columns`)
    and drop the raw ``_mapped_ttl`` / ``_mapped_timestamp``."""
    add = ttl_writetime_columns(mapped.schema, table)
    return mapped.select(*project(mapped.schema, add, drop=_MAPPED_TIMES))


def route_writes(mapped: DataFrame, table: TableConfig, schema: TableSchema) -> DataFrame:
    """Add the ``_route`` column of :func:`route_column`."""
    return mapped.select(*project(mapped.schema, {ROUTE_COL: route_column(table, schema)}))


def ttl_route_columns(
    mapped_schema: StructType, table: TableConfig, schema: TableSchema
) -> list[Column]:
    """:func:`add_ttl_writetime` then :func:`route_writes` over a mapped
    frame of ``mapped_schema``, as ONE select list (the route reads only
    mapped columns, never ``_ttl``/``_writetime``)."""
    add = ttl_writetime_columns(mapped_schema, table)
    add[ROUTE_COL] = route_column(table, schema)
    return project(mapped_schema, add, drop=_MAPPED_TIMES)


def ttl_writetime_columns(mapped_schema: StructType, table: TableConfig) -> dict[str, Column]:
    """``_ttl`` (seconds, int) and ``_writetime`` (microseconds, long) of a
    mapped frame of ``mapped_schema``.

    TTL precedence (SURVEY §2.6): mapped ``__ttl`` (converted from
    ``ttlTimeUnit``, default SECONDS; NEGATIVE → 0 per reference
    WriteTimestampAndTtlCCMIT.java:159) else static table ``ttl`` else null.

    Writetime precedence: mapped ``__timestamp`` (converted from
    ``timestampTimeUnit``, default MICROSECONDS; negative passes through,
    WriteTimestampAndTtlCCMIT.java:383-416) else Kafka record timestamp
    ms→µs (T1: record ts 153000987 → writetime 153000987000,
    WriteTimestampAndTtlCCMIT.java:46-70).
    """
    cols = set(mapped_schema.fieldNames())

    if "_mapped_ttl" in cols:
        factor = time_unit_to_seconds(table.ttl_time_unit)
        ttl_s = (F.col("_mapped_ttl") * F.lit(factor)).cast("long")
        ttl = F.greatest(F.lit(0).cast("long"), ttl_s)  # negative → 0
    elif table.ttl is not None:
        ttl = F.lit(int(table.ttl)).cast("long")
    else:
        ttl = F.lit(None).cast("long")

    if "_mapped_timestamp" in cols:
        factor_us = time_unit_to_seconds(table.timestamp_time_unit) * 1e6
        wt = (F.col("_mapped_timestamp") * F.lit(factor_us)).cast("long")
    elif table.query is not None:
        # W5 provided-query mode: the record-timestamp auto-writetime is NOT
        # applied (reference: ProvidedQueryCCMIT.java:127-128) — timestamps
        # only flow through an explicit USING TIMESTAMP :var in the query.
        wt = F.lit(None).cast("long")
    elif "_kafka_timestamp" in cols:
        wt = F.unix_micros(F.col("_kafka_timestamp")).cast("long")
    else:
        wt = F.lit(None).cast("long")

    return {TTL_COL: ttl, WRITETIME_COL: wt}


def delete_condition(table: TableConfig, schema: TableSchema) -> Column:
    """The W4 rule (reference: DeleteCCMIT.java:40-60): row becomes a DELETE
    iff deletes are enabled, the mapping covers ALL table columns, and every
    mapped non-PK value is null. With deletes disabled, nulls are written as
    nulls (DeleteCCMIT.java:85-114)."""
    if not table.deletes_enabled or not table.covers_all_columns(schema):
        return F.lit(False)
    non_pk = [c for c in schema.regular_columns]
    if not non_pk:
        return F.lit(False)
    cond = F.lit(True)
    for c in non_pk:
        cond = cond & F.col(c).isNull()
    return cond


def route_column(table: TableConfig, schema: TableSchema) -> Column:
    """The ``_route`` of each mapped row: INSERT / DELETE / UPDATE_COUNTER.

    Counter tables always take the UPDATE path (W3,
    reference: SimpleEndToEndSimulacronIT.java:318-352); otherwise W4 decides
    DELETE vs INSERT.
    """
    if schema.counters:
        return F.lit(ROUTE_COUNTER)
    return F.when(delete_condition(table, schema), F.lit(ROUTE_DELETE)).otherwise(
        F.lit(ROUTE_INSERT)
    )


def statements(
    table: TableConfig, schema: TableSchema
) -> dict[str, tuple[str, list[tuple[str, str, object]]]]:
    """The ONE source of statement shapes (W1/W2/W4/W3/W5): statement kind →
    (CQL template, binds). Each bind is ``(bind name, source column, value
    bound when the source is null or absent)``; the name is one of the
    template's ``:name`` placeholders. ``cql_statement`` (the per-row
    oracle-verified column) and the physical writer both read it, so the
    executed CQL and its parameters can never drift from the verified shapes.

    Kinds: provided | insert | insert_ttl | insert_plain | insert_plain_ttl |
    delete | counter. ``insert_plain`` omits USING TIMESTAMP for rows without
    a writetime (binding null to a USING TIMESTAMP variable is a server
    error); ``insert_plain_ttl`` covers the TTL-but-no-writetime row (e.g. a
    static table TTL with no mapped __timestamp) — without it the TTL would
    silently drop. A null value binds as UNSET under nullToUnset (W6,
    reference: RawDataEndToEndCCMIT.java:181-218), as null otherwise; key
    columns bind as they are and a null counter increment binds 0.
    """
    unset = UNSET if table.null_to_unset else None
    if table.query is not None:
        provided = [(e.column, e.column, unset) for e in table.mapping]
        return {"provided": (table.query, provided)}
    fq = f"{table.keyspace}.{table.table}"
    cols = [c.name for c in schema.columns]
    values = [(c, c, unset) for c in cols]
    keys = [(c, c, None) for c in schema.primary_key]
    where = " WHERE " + " AND ".join(f"{c}=:{c}" for c in schema.primary_key)
    wt = ("message_internal_timestamp", WRITETIME_COL, None)
    ttl = ("message_internal_ttl", TTL_COL, None)
    insert_plain = (
        f"INSERT INTO {fq}({','.join(cols)}) VALUES "
        f"({','.join(':' + c for c in cols)})"
    )
    insert = insert_plain + " USING TIMESTAMP :message_internal_timestamp"
    out = {
        "insert": (insert, values + [wt]),
        "insert_ttl": (insert + " AND TTL :message_internal_ttl", values + [wt, ttl]),
        "insert_plain": (insert_plain, values),
        "insert_plain_ttl": (
            insert_plain + " USING TTL :message_internal_ttl", values + [ttl]
        ),
        "delete": (f"DELETE FROM {fq}{where}", keys),
    }
    if schema.counters:
        sets = ", ".join(f"{c} = {c} + :{c}" for c in schema.counters)
        increments = [(c, c, 0) for c in schema.counters]
        out["counter"] = (f"UPDATE {fq} SET {sets}{where}", keys + increments)
    return out


def cql_templates(table: TableConfig, schema: TableSchema) -> dict[str, str]:
    """Statement kind → CQL template text, from :func:`statements`."""
    return {kind: text for kind, (text, _binds) in statements(table, schema).items()}


def statement_kind_sql(table: TableConfig, schema: TableSchema) -> str:
    """The statement kind of each routed row — the one place it is decided:
    the provided query (W5) for every row of a provided-query table, else
    the delete / counter route, else the insert variant that the row's
    writetime and TTL call for. One SQL CASE over ``_route``,
    ``_writetime`` and ``_ttl``: a single call into the JVM per use, where a
    ``F.when`` chain makes one per operator."""
    if table.query is not None:
        return "'provided'"
    route, wt, ttl = ROUTE_COL, WRITETIME_COL, TTL_COL
    counter = f"WHEN {route} = '{ROUTE_COUNTER}' THEN 'counter' " if schema.counters else ""
    return (
        f"CASE WHEN {route} = '{ROUTE_DELETE}' THEN 'delete' {counter}"
        f"WHEN {wt} IS NULL AND {ttl} IS NOT NULL THEN 'insert_plain_ttl' "
        f"WHEN {wt} IS NULL THEN 'insert_plain' "
        f"WHEN {ttl} IS NOT NULL THEN 'insert_ttl' ELSE 'insert' END"
    )


def cql_statement(table: TableConfig, schema: TableSchema) -> Column:
    """Generate the CQL template string per row — pins the reference's exact
    statement shapes (W1/W2/W4,
    reference: SimpleEndToEndSimulacronIT.java:91-101):

      INSERT INTO ks.t(a,b) VALUES (:a,:b) USING TIMESTAMP :message_internal_timestamp
      ... AND TTL :message_internal_ttl        (when a TTL is present)
      DELETE FROM ks.t WHERE pk1=:pk1 AND ...  (delete route)
      UPDATE ks.t SET c = c + :c WHERE ...     (counter route)

    In provided-query mode (W5, reference: ProvidedQueryCCMIT.java:90-129) the
    user's CQL text is used verbatim — no generation, no validation.
    """
    texts = [F.lit(x) for kv in cql_templates(table, schema).items() for x in kv]
    return F.create_map(*texts)[F.expr(statement_kind_sql(table, schema))]


def partition_key_batches(
    routed: DataFrame, schema: TableSchema, max_batch: int = 32
) -> DataFrame:
    """Model W8 partition-key batching (reference:
    SimpleEndToEndSimulacronIT.java:776-875): statements with the SAME routing
    key group into unlogged batches capped at ``maxNumberOfRecordsInBatch``
    (default 32, sample:38-39); distinct keys execute individually.

    Returns per-key batch statistics: number of statements, number of batch
    frames that would hit the wire, and rows per frame. At scale this is the
    natural Spark aggregation — one shuffle on the partition key, exactly the
    co-location a Cassandra-partition-aware writer wants.

    Groups on the PARTITION key (schema.partition_key), not the full primary
    key: rows sharing a partition but differing in clustering columns DO
    co-batch (the reference batches by routing key).
    """
    pk = [F.col(c) for c in schema.partition_key if c in routed.columns]
    key = pk[0] if len(pk) == 1 else F.struct(*pk)
    return (
        routed.groupBy(key.alias("routing_key"))
        .agg(F.count(F.lit(1)).alias("n_statements"))
        .withColumn(
            "n_frames", F.ceil(F.col("n_statements") / F.lit(max_batch)).cast("long")
        )
    )


def replay_final_state(routed: DataFrame, schema: TableSchema) -> DataFrame:
    """Apply at-least-once write semantics to produce the FINAL table state —
    the oracle path standing in for a live Cassandra cluster.

    Cassandra resolution: per primary key, the write with the highest
    writetime wins (ties broken by Kafka offset = arrival order here); if the
    winner is a DELETE the row does not exist. Counter tables instead SUM
    increments per key (W3 accrual: two puts of 3/4 → c3=6,c4=8,
    reference: JsonEndToEndCCMIT.java:276-300).

    One shuffle on the primary key; window + filter keeps it fully
    distributed (no driver-side state).
    """
    pk = [c for c in schema.primary_key if c in routed.columns]
    if schema.counters:
        aggs = [F.sum(F.col(c)).alias(c) for c in schema.counters]
        return routed.groupBy(*[F.col(c) for c in pk]).agg(*aggs)

    # Last-write-wins as an AGGREGATION (max_by over the write-order key),
    # not a sort-based window: partial aggregation combines map-side, so the
    # shuffle carries one candidate row per key per map task instead of every
    # replica of every key. (Struct-payload max_by buffers aren't
    # hash-aggregable — Spark plans SortAggregate — but the map-side combine
    # is the property that matters at 100 TB; the residual sort is local and
    # spillable.)
    order_key = _write_order_key(routed)
    keep = [c.name for c in schema.columns if c.name in routed.columns]
    payload = F.struct(*[F.col(c) for c in keep], F.col(ROUTE_COL))
    won = routed.groupBy(*[F.col(c) for c in pk]).agg(
        F.max_by(payload, order_key).alias("_win")
    )
    final = won.filter(F.col(f"_win.{ROUTE_COL}") != ROUTE_DELETE)
    return final.select(*[F.col(f"_win.{c}").alias(c) for c in keep])


def _write_order_key(routed: DataFrame) -> Column:
    """Cassandra write-resolution order as one orderable struct: writetime
    (nulls lowest) then arrival order (Kafka offset) as tie-break."""
    parts = [F.coalesce(F.col(WRITETIME_COL), F.lit(-(2**63))).alias("wt")]
    if "_kafka_offset" in routed.columns:
        parts.append(F.col("_kafka_offset").alias("off"))
    return F.struct(*parts)


def apply_null_to_unset(routed: DataFrame, table: TableConfig, schema: TableSchema) -> DataFrame:
    """W6 (reference: RawDataEndToEndCCMIT.java:181-218): with nullToUnset=true
    (default) a null bound value is sent as UNSET — the existing cell is left
    untouched (no tombstone). With false, a real null (tombstone) is written.

    For the final-state replay model, UNSET means "this write does not modify
    the column": materialized as a per-column last-non-null-wins instead of
    last-row-wins. Expressed with max_by over writetime — still one shuffle.
    """
    if not table.null_to_unset:
        return routed  # nulls behave as ordinary values (tombstones)
    pk = [c for c in schema.primary_key if c in routed.columns]
    non_pk = [c for c in schema.regular_columns if c in routed.columns]
    # Per-column LAST NON-NULL in write order — a null cell leaves the prior
    # value untouched (the UNSET semantics). Expressed as max_by per column
    # with a null ordering key masking the null writes (max_by ignores rows
    # whose ordering value is null): ONE hash aggregation with map-side
    # partial combine, no window sort, no distinct.
    order_key = _write_order_key(routed)
    aggs = [
        F.max_by(F.col(c), F.when(F.col(c).isNotNull(), order_key)).alias(c)
        for c in non_pk
    ]
    return routed.groupBy(*[F.col(c) for c in pk]).agg(*aggs)


def replay_list_append(
    routed: DataFrame, schema: TableSchema, val_col: str
) -> DataFrame:
    """Final state under a provided-query CQL list append
    (``UPDATE ... SET l = l + [:v] WHERE pk = :pk``) executed once per record
    (reference: ProvidedQueryCCMIT.java:196-221 — three puts of the same
    record append three elements): per primary key the list accumulates every
    bound value in arrival order (Kafka offset).

    Distributed as collect_list + array_sort on the (offset, value) pairs —
    the shuffle necessarily carries every element (the result IS the list);
    collect_list merges partially so no single task sees more than its own
    input slice before the final per-key merge.
    """
    pk = [c for c in schema.primary_key if c in routed.columns]
    entry = F.struct(F.col("_kafka_offset").alias("o"), F.col(val_col).alias("v"))
    return (
        routed.filter(F.col(val_col).isNotNull())
        .groupBy(*[F.col(c) for c in pk])
        .agg(
            F.transform(
                F.array_sort(F.collect_list(entry)), lambda s: s["v"]
            ).alias(val_col)
        )
    )


def replay_map_entries(
    routed: DataFrame,
    schema: TableSchema,
    key_col: str,
    val_col: str,
) -> DataFrame:
    """Final state under a provided-query CQL map-entry update
    (``UPDATE ... SET m[:mk] = :mv WHERE pk = :pk``): per (pk, entry key) the
    last write in arrival order wins, and a null winning value REMOVES the
    entry — the nullToUnset=false tombstone path of
    reference: ProvidedQueryCCMIT.java:476-545 (map entry update/remove).

    Output: per pk, the surviving entries as two key-sorted parallel arrays
    (``<key_col>s`` / ``<val_col>s``) — deterministic across engines, unlike
    map column ordering. Two hash aggregations, both with map-side partial
    combine.
    """
    pk = [c for c in schema.primary_key if c in routed.columns]
    winner = routed.groupBy(*[F.col(c) for c in pk + [key_col]]).agg(
        F.max_by(F.col(val_col), F.col("_kafka_offset")).alias(val_col)
    )
    survivors = winner.filter(F.col(val_col).isNotNull())
    entries = F.array_sort(
        F.collect_list(F.struct(F.col(key_col).alias("k"), F.col(val_col).alias("v")))
    )
    return (
        survivors.groupBy(*[F.col(c) for c in pk])
        .agg(entries.alias("_e"))
        .select(
            *pk,
            F.transform(F.col("_e"), lambda s: s["k"]).alias(f"{key_col}s"),
            F.transform(F.col("_e"), lambda s: s["v"]).alias(f"{val_col}s"),
        )
    )
