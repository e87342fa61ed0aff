"""Structured Streaming shell: the reference's Connect-task runtime re-expressed
as readStream → foreachBatch → per-table write.

Reference semantics mapped (SURVEY §2.8):
- at-least-once + offset rewind (CassandraSinkTask.preCommit,
  reference: CassandraSinkTask.java:67-73) → Spark checkpointing +
  idempotent upserts: a replayed micro-batch overwrites itself.
- ignoreErrors None/Driver/All (reference: CassandraSinkTask.java:128-141;
  KAF-200) → error-routing policy inside the batch, applied by
  ``SinkPlan.run`` alone:
    None   → any record error fails the batch (Spark retries → rewind);
    Driver → driver/write errors are ignored (counted), mapping/decode
             errors still fail the batch (rewind);
    All    → every error is ignored; mapping errors divert to the
             dead-letter ``error_sink``; the batch always commits.
- per-table metrics recordCount/failedRecordCount named "topic|ks.table"
  (reference: SimpleEndToEndSimulacronIT.java:469-471) → SinkMetrics: each
  micro-batch counts into its own record, folded into the stream's totals
  and kept under its batch id when the batch ends.
- fail-fast startup: mappings validated against table schemas BEFORE the
  stream starts (reference: SimpleEndToEndSimulacronIT.java:286-315).

Compiled once per stream (``SinkPlan``): ``start_sink_stream`` builds the
whole per-batch chain once, from the config, the table schemas, the
value/key schemas and the stream's record schema, and validates every
mapping; a trigger only applies its name-based Column lists.
``process_micro_batch`` is the same body behind a compile of its own.

Single pass per micro-batch: each trigger runs an incrementalized batch
job, so every Spark job, every re-scan of the batch and every per-row
expression evaluated twice is paid per trigger. Per topic:

    (compile once) → decode → converted values → mapping-error flags
    → persist → one count job → dead letters → writes → release

A topic's cache holds its decoded rows, every table's converted values and
every table's mapping-error flag, each computed once per row. One
aggregate per topic counts its rows and each table's flag and fills the
cache; its scan of the batch also counts the unknown-topic records,
through an ``Observation`` on the batch frame, so no other job reads the
batch. The dead-letter sink and the writer read the cache: the filters
read a table's flag and its mapping reads its converted values by name.
Under ignoreErrors=None/Driver the batch raises after the counts and
before any write; the cache is released when the batch ends, on success
or raise.

With no writer, ``process_micro_batch`` returns each table's routed frame;
the catalog's ``sink_*`` queries build their frames that way, so the
oracle checks the stream's own per-batch body.

Scale design: foreachBatch receives a distributed DataFrame; every stage here
is declarative, and a 1000-executor cluster runs the micro-batch exactly
like a batch job: no driver-side loops, no collect of record data.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafka_sink_spark.config import ConfigError, SinkConfig, TableConfig, TableSchema
from kafka_sink_spark.mapping.compiler import conversions, select_list
from kafka_sink_spark.operators.records import (
    KEY_LITERAL,
    RAW_FIELD,
    VALUE_LITERAL,
    apply_stages,
    column,
    decode_stages,
    project,
)
from kafka_sink_spark.operators.writes import ttl_route_columns
from kafka_sink_spark.streaming.registry import SinkMetrics, metric_key

# Flag column marking Avro records whose non-null payload failed to decode
# (PERMISSIVE mode) — routed to the dead-letter channel, never written.
AVRO_CORRUPT = "_avro_corrupt"


def mapping_error_column(
    decoded_schema: StructType, table: TableConfig, schema: TableSchema | None = None
) -> Column | None:
    """The one definition of a mapping error, over a decoded record frame of
    ``decoded_schema``: a record whose key or value failed the typed decode,
    or, given the table's ``schema``, one with a mapped value that failed its
    conversion to the column type (``conversions`` → ``codecs.convert``:
    source not null, result null) — the reference's per-record mapping error
    (CassandraSinkTask.java:128-141: rewound under None/Driver, skipped and
    counted under All). ``None`` when ``table`` cannot hit one.

    A record errors on a side (key/value) only when the mapping addresses
    typed ``<side>.<field>`` paths AND has no whole-``<side>`` entry AND that
    side did not parse (its literal-fallback channel is populated). A mapping
    that projects the whole side (P4 shape, e.g. ``raw=value, kcol=value.k``)
    accepts literal mode — the literal IS the raw column's data and the
    typed fields bind as absent, matching reference mode-3 semantics
    (MetadataCreatorTest.java:104-116). A permissive Avro decode's corrupt
    flag (``AVRO_CORRUPT``) is a mapping error for every table on the topic.
    """
    return _mapped(decoded_schema, table, schema)[0]


def _mapped(
    decoded_schema: StructType,
    table: TableConfig,
    schema: TableSchema | None,
    cache: dict[str, Column] | None = None,
    tag: int = 0,
) -> tuple[Column | None, list[tuple[str, Column]]]:
    """A table's :func:`mapping_error_column` and its ``(name, value)``
    mapping entries, from one walk of its ``conversions``. Given ``cache``,
    each converted value goes into it as ``_conv<tag>_<i>``, and the
    condition and the entries read it from there by name."""
    columns = set(decoded_schema.fieldNames())
    conds = [F.col(AVRO_CORRUPT)] if AVRO_CORRUPT in columns else []
    for ns, literal_col in (("value", VALUE_LITERAL), ("key", KEY_LITERAL)):
        whole = [e.path in (None, RAW_FIELD) for e in table.mapping if e.namespace == ns]
        # Typed paths only: a whole-side entry accepts the literal fallback.
        if whole and not any(whole) and literal_col in columns:
            conds.append(F.col(literal_col).isNotNull())
    entries = []
    for i, (name, source, value) in enumerate(conversions(decoded_schema, table, schema)):
        if value is not None:
            if cache is not None:
                cache[f"_conv{tag}_{i}"] = value
                value = F.col(f"_conv{tag}_{i}")
            conds.append(source.isNotNull() & value.isNull())  # a failed conversion
        entries.append((name, source if value is None else value))
    return (functools.reduce(operator.or_, conds) if conds else None), entries


def split_mapping_errors(
    decoded: DataFrame, table: TableConfig, schema: TableSchema | None = None
) -> tuple[DataFrame, DataFrame | None]:
    """Separate the records :func:`mapping_error_column` flags from the
    healthy stream: ``(good, bad)``, with ``bad`` None when ``table`` cannot
    hit a mapping error."""
    bad_cond = mapping_error_column(decoded.schema, table, schema)
    if bad_cond is None:
        return decoded, None
    good = decoded.filter(~bad_cond).drop(AVRO_CORRUPT)
    bad = decoded.filter(bad_cond).drop(AVRO_CORRUPT)
    return good, bad


def _decode_stages(spark: SparkSession, schema: StructType, vs: object, ks: object) -> list:
    """The decode stages of one topic's records: an Avro schema JSON string
    selects Struct/Avro mode (S1), PERMISSIVE under every policy, so a
    corrupt payload is flagged ``AVRO_CORRUPT``, a mapping error like
    malformed JSON; anything else the JSON-with-literal-fallback or raw
    decode of ``decode_records``."""
    if isinstance(vs, str):
        from kafka_sink_spark.sources.avro import avro_decode_stages, use_from_avro

        return avro_decode_stages(
            schema, vs, ks if isinstance(ks, str) else None,
            options={"mode": "PERMISSIVE"}, corrupt_col=AVRO_CORRUPT, jvm=use_from_avro(spark),
        )
    return decode_stages(schema, value_schema=vs, key_schema=ks)


@dataclass(frozen=True)
class _TablePlan:
    """One table's compiled stages over its topic's cached frame."""

    table: TableConfig
    schema: TableSchema
    key: str  # metric key, 'topic|ks.table'
    name: str  # 'ks.table'
    flag: str  # its mapping-error flag column in the cache
    dead: list[Column]  # the decoded columns, without AVRO_CORRUPT
    mapping: list[Column]  # select_list over the cache
    route: list[Column]  # ttl_route_columns over the mapped frame


@dataclass(frozen=True)
class _TopicPlan:
    """One topic's compiled stages: its records, their decode and cached
    conversions, its tables' plans, and the one aggregate over the cached
    rows (row count, then each table's mapping-error count)."""

    records: Column
    decode: list
    tables: list[_TablePlan]
    counts: list[Column]


class SinkPlan:
    """The sink's per-batch work, compiled once for a record schema.

    A stream's record schema is fixed for the life of the query, so the
    decode → mapping → ttl/writetime → route chain, the mapping-error
    flags, the unknown-topic metric and every topic's aggregate are built
    once, as name-based Column lists, when the plan is made — the reference
    compiles each table's RecordMapper once at task start (SURVEY §3.3).
    :meth:`run` then only applies them: per topic a filter, the decode
    projections, a persist and one aggregate; per table a filter and two
    projections. Building the same chain per batch cost ~2,000 py4j round
    trips on a two-table fan-out.

    Each conversion is built once and evaluated once per row: the stages a
    topic persists end with every table's converted values, then each
    table's mapping-error flag over them by name. The aggregate counts the
    flags, the good-row and dead-letter filters read them, and a mapping
    reads its converted values from the cache.

    :meth:`run` is the one place that applies ``ignoreErrors``; the stages
    it applies are the same under every policy.

    The mappings are validated against their tables here, before anything
    runs; a config with no tables is rejected, since a batch would then run
    no action. A batch whose schema differs from the compiled one (names
    and types; nullability aside) recompiles the plan for the new schema,
    so a stale plan never reads a batch it was not built for.
    """

    def __init__(
        self,
        spark: SparkSession,
        record_schema: StructType,
        config: SinkConfig,
        schemas: dict[tuple[str, str], TableSchema],
        value_schemas: dict[str, object] | None = None,
        key_schemas: dict[str, object] | None = None,
    ):
        if not config.tables:
            raise ConfigError("the sink config has no tables")
        self.config = config
        self.schemas = schemas
        self.value_schemas = value_schemas or {}
        self.key_schemas = key_schemas or {}
        for table in config.tables:
            table.validate_against(schemas[(table.keyspace, table.table)])
        self._compile(spark, record_schema)

    def _compile(self, spark: SparkSession, record_schema: StructType) -> None:
        by_topic: dict[str, list[TableConfig]] = {}
        for table in self.config.tables:
            by_topic.setdefault(table.topic, []).append(table)
        # Each stage's output schema comes from analyzing the stages over
        # an empty frame of the record schema, once.
        empty = spark.createDataFrame([], record_schema)
        self.record_schema = record_schema
        self.unknown = F.count_if(~F.col("topic").isin(list(by_topic))).alias("unknown")
        self.topics = []
        for topic, tables in by_topic.items():
            stages = _decode_stages(
                spark, record_schema, self.value_schemas.get(topic), self.key_schemas.get(topic)
            )
            decoded = apply_stages(empty, stages)
            values: dict[str, Column] = {}
            flags, mappings = {}, []
            for t, table in enumerate(tables):
                schema = self.schemas[(table.keyspace, table.table)]
                flag, entries = _mapped(decoded.schema, table, schema, values, t)
                flags[f"_error{t}"] = F.lit(False) if flag is None else flag
                mappings.append(select_list(decoded.schema, entries))
            # The values in one projection, the flags over them by name in
            # the next: Spark does not merge two projections when that would
            # repeat a value, so each conversion runs once per row.
            cache = ([project(decoded.schema, values)] if values else []) + [
                project(decoded.schema, flags)
            ]
            cached = apply_stages(decoded, cache)
            dead = [column(c) for c in decoded.columns if c != AVRO_CORRUPT]
            plans = []
            for flag, table, mapping in zip(flags, tables, mappings):
                schema = self.schemas[(table.keyspace, table.table)]
                name = f"{table.keyspace}.{table.table}"
                route = ttl_route_columns(cached.select(*mapping).schema, table, schema)
                key = metric_key(table.topic, name)
                plans.append(_TablePlan(table, schema, key, name, flag, dead, mapping, route))
            counts = [F.count(F.lit(1))] + [F.count_if(F.col(flag)) for flag in flags]
            self.topics.append(_TopicPlan(F.col("topic") == topic, stages + cache, plans, counts))

    def run(
        self,
        batch_df: DataFrame,
        writer: Callable[[DataFrame, TableConfig, TableSchema], None] | None = None,
        metrics: SinkMetrics | None = None,
        error_sink: Callable[[DataFrame, TableConfig], None] | None = None,
    ) -> dict[str, DataFrame]:
        """One micro-batch through the compiled plan (see
        :func:`process_micro_batch` for the order and the error policy)."""
        if batch_df.schema.simpleString() != self.record_schema.simpleString():
            self._compile(batch_df.sparkSession, batch_df.schema)
        policy = self.config.ignore_errors
        metrics = metrics if metrics is not None else SinkMetrics()
        # Unknown-topic records are counted by the topic aggregates' scans
        # of the batch, not by an action of their own.
        unknown = Observation()
        observed = batch_df.observe(unknown, self.unknown)

        cached: list[DataFrame] = []
        try:
            # per table, topic by topic: (plan, decoded, n_good, n_bad)
            splits: list[tuple[_TablePlan, DataFrame, int, int]] = []
            for topic in self.topics:
                decoded = apply_stages(observed.filter(topic.records), topic.decode).persist()
                cached.append(decoded)
                n_rows, *n_bads = decoded.agg(*topic.counts).collect()[0]
                splits += [
                    (plan, decoded, n_rows - n_bad, n_bad)
                    for plan, n_bad in zip(topic.tables, n_bads)
                ]
            # Read only now: Observation.get blocks until an action has run.
            metrics.failed_with_unknown_topic += unknown.get["unknown"]

            for plan, decoded, _n_good, n_bad in splits:
                if not n_bad:
                    continue
                if policy != "All":
                    raise RuntimeError(
                        f"{n_bad} record(s) failed mapping for {plan.key} "
                        f"(ignoreErrors={policy} rewinds mapping errors)"
                    )
                metrics.bump(plan.key, n_bad, failed=True)
                if error_sink is not None:
                    error_sink(decoded.filter(plan.flag).select(*plan.dead), plan.table)

            out: dict[str, DataFrame] = {}
            for plan, decoded, n_good, n_bad in splits:
                good = decoded.filter(f"NOT {plan.flag}") if n_bad else decoded
                routed = good.select(*plan.mapping).select(*plan.route)
                # S3 fan-in: several topics may map into one table, each with
                # its own mapping, so their column sets may differ.
                prior = out.get(plan.name)
                out[plan.name] = (
                    routed
                    if prior is None
                    else prior.unionByName(routed, allowMissingColumns=True)
                )
                # A table with no good rows is not written: the writer would
                # pay a key shuffle and a job over an empty frame.
                if writer is not None and n_good:
                    try:
                        stats = writer(routed, plan.table, plan.schema)
                    except Exception:
                        if policy == "None":
                            raise  # the batch fails → Spark retries (offset rewind)
                        # Divert: count as failed, keep the batch alive. The
                        # reference's recordCounter increments at the MAPPING
                        # stage, so driver-failed records appear in BOTH
                        # counters (SimpleEndToEndSimulacronIT.java:555-564:
                        # recordCounter=5 with 3 driver failures; :430-470:
                        # recordCounter=4 excludes only the MAPPING failure).
                        metrics.bump(plan.key, n_good, failed=True)
                    else:
                        # write_routed's stats dict feeds the KAF-99 batch
                        # histograms; a writer may return None instead.
                        if isinstance(stats, dict):
                            metrics.observe_write(plan.key, stats)
                metrics.bump(plan.key, n_good)
            return out
        finally:
            for df in cached:
                df.unpersist()


def process_micro_batch(
    batch_df: DataFrame,
    config: SinkConfig,
    schemas: dict[tuple[str, str], TableSchema],
    value_schemas: dict[str, object] | None = None,
    key_schemas: dict[str, object] | None = None,
    writer: Callable[[DataFrame, TableConfig, TableSchema], None] | None = None,
    metrics: SinkMetrics | None = None,
    error_sink: Callable[[DataFrame, TableConfig], None] | None = None,
) -> dict[str, DataFrame]:
    """One micro-batch through the full sink pipeline, in a single pass:
    compiles a :class:`SinkPlan` for the batch's schema, then runs the one
    per-batch body (``SinkPlan.run``) that a stream runs on every trigger
    with the plan it compiled at start.

    Routes records by topic to each configured table (S3/S4 fan-in/fan-out),
    applies decode → mapping → ttl/writetime → route, then hands each table's
    routed frame to ``writer`` (or returns them keyed 'ks.table' when no
    writer is given — the test/oracle path; topics fanned in to one table
    are unioned by column name). The order:

    1. decode per topic: tables on one topic share its value/key schema, so
       they share one decoded frame;
    2. persist it with every table's converted values and mapping-error
       flag (:func:`mapping_error_column`: decode failures and failed value
       conversions);
    3. one count job per topic: a single aggregate computes the topic's row
       count and every table's mapping-error count and fills the cache; the
       first one also counts the unknown-topic records, which are never written
       (SimpleEndToEndSimulacronIT.java:740-755). Under
       ignoreErrors=None/Driver any mapping error raises here, before any
       table is written, so Spark's retry rewinds the offsets with nothing
       half-written — the reference's failure-offset behavior (SURVEY §2.8);
    4. dead letters: under ignoreErrors=All each table's mapping errors are
       counted and diverted to ``error_sink``, read from the cache;
    5. writes: each table's good rows, read from the cache; a table with
       no good rows is not handed to the writer;
    6. release: every persisted frame is unpersisted when the batch ends,
       on success or raise, and the batch's own SinkMetrics is folded into
       ``metrics`` (what a raised batch counted still counts).

    ``value_schemas``/``key_schemas`` entries select the decode mode per
    topic: a StructType means JSON-with-literal-fallback; an Avro schema
    JSON **string** means Struct/Avro mode (S1) via decode_avro_records,
    PERMISSIVE and corrupt-flagging under every policy. A corrupt key or
    value payload is a mapping error like malformed JSON: dead-lettered
    under ignoreErrors=All, raised before any write otherwise; null-value
    tombstones still route as deletes.
    """
    plan = SinkPlan(
        batch_df.sparkSession, batch_df.schema, config, schemas, value_schemas, key_schemas
    )
    batch = SinkMetrics()
    try:
        return plan.run(batch_df, writer=writer, metrics=batch, error_sink=error_sink)
    finally:
        if metrics is not None:
            metrics.commit(batch)


def start_sink_stream(
    spark: SparkSession,
    records_stream: DataFrame,
    config: SinkConfig,
    schemas: dict[tuple[str, str], TableSchema],
    checkpoint_dir: str,
    writer: Callable[[DataFrame, TableConfig, TableSchema], None],
    value_schemas: dict[str, object] | None = None,
    key_schemas: dict[str, object] | None = None,
    metrics: SinkMetrics | None = None,
    trigger_once: bool = False,
    error_sink: Callable[[DataFrame, TableConfig], None] | None = None,
):
    """Wire the pipeline into a streaming query.

    ``records_stream`` is any streaming DataFrame with the canonical record
    columns (from sources.kafka.kafka_records_stream in production; a file
    stream in tests). Checkpointing replaces the reference's preCommit offset
    bookkeeping wholesale. The :class:`SinkPlan` is compiled here, from
    ``records_stream``'s schema, and every micro-batch runs it; an invalid
    mapping raises ``ConfigError`` here, before any query starts (fail-fast
    startup).

    Each micro-batch counts into a fresh :class:`SinkMetrics`; when it ends,
    on success or raise, ``metrics.commit`` folds it into ``metrics`` and
    keeps it under the batch's id, for as many batches as
    ``spark.sql.streaming.numRecentProgressUpdates`` (read here, once).
    """
    plan = SinkPlan(spark, records_stream.schema, config, schemas, value_schemas, key_schemas)
    shared_metrics = metrics if metrics is not None else SinkMetrics()
    # The setting that bounds query.recentProgress bounds the batch records.
    keep = int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates"))

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        batch = SinkMetrics()
        try:
            plan.run(batch_df, writer=writer, metrics=batch, error_sink=error_sink)
        finally:
            shared_metrics.commit(batch, epoch_id, keep)

    q = records_stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        q = q.trigger(availableNow=True)
    return q.start()
