"""Executor-side Cassandra write path: the physical layer of W1-W11.

``write_routed`` takes a routed DataFrame (a table's mapped, ttl/writetime
and route columns, as ``SinkPlan.run`` hands them to its writer) and
executes it against Cassandra.
It makes no statement decision of its own: each row's statement kind is
the ``statement_kind`` column and its parameters are that kind's bind list,
both from ``operators.writes.statements`` — the shapes ``cql_statement``
verifies (W1-W6). What the writer owns is the execution (reference
behaviors pinned in SURVEY §2.5):

- partition-key batching: same-routing-key statements grouped into unlogged
  batches capped at ``maxNumberOfRecordsInBatch`` (W8,
  reference: SimpleEndToEndSimulacronIT.java:776-875); distinct keys execute
  individually;
- bounded concurrency: ≤ ``maxConcurrentRequests`` in-flight requests (W9,
  sample:35-36) via a sliding window over async executions;
- per-table consistency level (W7);
- the KAF-99 frame-size and statement-bytes histograms.

Spark-first shape: the DataFrame is repartitioned ON the routing key and
sorted within partitions, so (a) all statements for one Cassandra partition
are built by one task — batching is a linear scan over consecutive rows, no
per-task hash map; (b) at 1000 executors each task talks to a bounded set of
replicas (token-aware locality is the driver's job, but key-clustered tasks
make its routing cache effective).

The driver session is injected (``session_factory``) so the logic is fully
testable without a cluster; ``cassandra_session_factory`` builds a real one
from ``SinkConfig`` when the ``cassandra-driver`` package is available.
"""

from __future__ import annotations

import atexit
import json
from collections import deque
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame

from kafka_sink_spark.config import ConfigError, SinkConfig, TableConfig, TableSchema
from kafka_sink_spark.operators.records import quote
from kafka_sink_spark.operators.writes import UNSET, statement_kind_sql, statements
from kafka_sink_spark.operators.writes import (  # noqa: F401 - re-exported
    cql_templates as statement_texts,
)

# The optional driver, looked up once: with it, BATCH frames are driver
# BatchStatements and consistency levels driver enums; without it both go
# to the session's hooks (the fake/test interface).
try:  # pragma: no cover - depends on optional package
    from cassandra import ConsistencyLevel  # type: ignore
    from cassandra.query import BatchStatement, BatchType  # type: ignore
except ImportError:  # pragma: no cover
    ConsistencyLevel = BatchStatement = BatchType = None


def _submit_batch(session, stmts: list, consistency_level: str, counter: bool):
    """Submit one BATCH frame (W8): UNLOGGED for regular mutations, COUNTER
    for counter tables (Cassandra rejects counter statements inside
    logged/unlogged batches). Uses the real driver's BatchStatement when the
    package is present; otherwise delegates to the session's
    ``execute_batch`` hook (the fake/test interface)."""
    if BatchStatement is None:
        return session.execute_batch(stmts, consistency_level=consistency_level)
    batch = BatchStatement(  # pragma: no cover - needs optional package
        batch_type=BatchType.COUNTER if counter else BatchType.UNLOGGED,
        consistency_level=getattr(ConsistencyLevel, consistency_level),
    )
    for prep, params in stmts:
        batch.add(prep, params)
    return session.execute_async(batch)


def _apply_consistency(stmt, consistency_level: str) -> None:
    """W7 for SINGLE executes: the driver applies a PreparedStatement's
    consistency_level to every statement bound from it. Guarded setattr —
    test fakes may return plain strings from prepare()."""
    try:
        stmt.consistency_level = (
            consistency_level
            if ConsistencyLevel is None
            else getattr(ConsistencyLevel, consistency_level)
        )
    except AttributeError:
        pass


def _estimate_statement_bytes(params: dict) -> int:
    """Deterministic payload estimate of ONE statement: the UTF-8/binary
    length of every bound value (None/UNSET bind no payload). Feeds the
    KAF-99 batchSizeInBytesHistogram equivalent, which the reference
    updates once PER STATEMENT in a batch
    (SimpleEndToEndSimulacronIT.java:888-895: a 2-statement batch yields
    histogram count 2, with min≠max when the payloads differ) — an
    observability histogram, so an estimate of the bound data (not the
    exact protocol framing) is the honest measurable here."""
    total = 0
    for v in params.values():
        if v is None or v is UNSET:
            continue
        if isinstance(v, (bytes, bytearray)):
            total += len(v)
        elif isinstance(v, str):
            total += len(v.encode("utf-8"))
        else:
            total += len(str(v))
    return total


@dataclass
class Histogram:
    """One KAF-99 histogram: bucket counts plus the exact count, min, max
    and sum of the observed values. A value is its own bucket, or with
    ``pow2`` the smallest power of two ≥ it (0 stays 0), which bounds the
    buckets to ~60 at any scale. Write tasks ``add``; the driver and
    ``SinkMetrics`` ``merge``."""

    pow2: bool = False
    buckets: dict[int, int] = field(default_factory=dict)
    n: int = 0
    sum: int = 0
    min: int | None = None
    max: int | None = None

    def add(self, v: int) -> None:
        b = (0 if v <= 0 else 1 << (v - 1).bit_length()) if self.pow2 else v
        self.buckets[b] = self.buckets.get(b, 0) + 1
        self.n += 1
        self.sum += v
        if self.min is None or v < self.min:
            self.min = v
        if self.max is None or v > self.max:
            self.max = v

    def merge(self, other: Histogram) -> Histogram:
        """Fold ``other`` into this histogram; returns self."""
        for b, c in other.buckets.items():
            self.buckets[b] = self.buckets.get(b, 0) + c
        if other.n:
            self.min = other.min if self.min is None else min(self.min, other.min)
            self.max = other.max if self.max is None else max(self.max, other.max)
        self.n += other.n
        self.sum += other.sum
        return self


def write_routed(
    routed: DataFrame,
    table: TableConfig,
    schema: TableSchema,
    config: SinkConfig,
    session_factory: Callable[[], object],
) -> dict:
    """Execute a routed DataFrame against Cassandra. Returns aggregate stats
    {'rows', 'batches', 'singles'} (a batch = one unlogged BATCH frame;
    a single = one standalone EXECUTE) plus the KAF-99 histograms:
    'batch_size_hist' observes every frame's statement count (bounded by
    maxNumberOfRecordsInBatch) and 'batch_bytes_hist' every statement's
    estimated payload bytes in power-of-two buckets (one update per
    statement, like the reference's batchSizeInBytesHistogram).

    ``session_factory`` is called by every write task ON THE EXECUTOR and
    must return an object with ``prepare(cql) -> stmt`` and
    ``execute_async(stmt, params) -> future`` (``future.result()`` awaited
    under the concurrency bound) — the cassandra-driver Session API.
    ``cassandra_session_factory`` hands every task of a worker process the
    same connected session. A task prepares a statement kind the first time
    one of its rows needs it.

    Only what a statement binds reaches Python: before the shuffle the frame
    is narrowed to the ``statement_kind`` column, the routing-key columns
    and the source column of every bind (null when the frame lacks it), so
    record metadata (``_kafka_topic``, ``_kafka_offset``, ...) is neither
    shuffled nor converted per row.

    When a request fails, every other request still in flight in that task
    is awaited before the failure propagates, so a retried batch never
    overlaps a failed attempt's writes.

    Batch runs are detected on the PARTITION key (the Cassandra routing key):
    rows sharing a partition but differing in clustering columns co-batch,
    matching the reference's W8 routing-key batching. The sort adds the
    clustering columns so runs are contiguous and writes within a partition
    arrive in clustering order.
    """
    present = set(routed.columns)
    # Rows co-batch only on the whole routing key; a frame lacking any of
    # its columns (a provided query binding other names) is written one
    # EXECUTE per row, unshuffled and unsorted, so no batch can span two
    # partitions.
    pk = schema.partition_key if present.issuperset(schema.partition_key) else []
    sort_cols = pk + [c for c in schema.primary_key if c not in pk and c in present]
    # Selected: kind, then the routing key (a row's run key is a slice),
    # then every bind source; each bind reads its source by index.
    kinds = statements(table, schema).values()
    sources = [src for _text, binds in kinds for _name, src, _null in binds]
    names = list(dict.fromkeys(sort_cols + sources))
    index = {c: i for i, c in enumerate(names, start=1)}
    key_end = 1 + len(pk)
    max_batch = config.max_number_of_records_in_batch if pk else 1
    max_inflight = config.max_concurrent_requests

    def write_partition(rows: Iterable) -> Iterator[tuple[Histogram, Histogram]]:
        session = session_factory()
        # Built here, in the executing process, so UNSET is its sentinel.
        plan = {
            kind: (text, [(name, index[src], null) for name, src, null in binds])
            for kind, (text, binds) in statements(table, schema).items()
        }
        prepared: dict = {}

        def statement(kind: str):
            """The prepared statement of one kind, prepared (and given the
            table's consistency level) the first time a row needs it."""
            stmt = prepared.get(kind)
            if stmt is None:
                stmt = prepared[kind] = session.prepare(plan[kind][0])
                _apply_consistency(stmt, table.consistency_level)
            return stmt

        futures: deque = deque()

        def throttle() -> None:
            """Bound in-flight requests: await the oldest future once the
            window is full (W9 maxConcurrentRequests)."""
            while len(futures) >= max_inflight:
                futures.popleft().result()

        frames, sizes = Histogram(), Histogram(pow2=True)

        def submit(frame: list[tuple[str, dict]]) -> None:
            """One frame: an unlogged batch of ≤ max_batch statements of one
            key-run, or a standalone EXECUTE for a single one. Observes the
            frame into the frame-size histogram (KAF-99: a single EXECUTE is
            a frame of size 1) and every statement into the bytes
            histogram."""
            throttle()
            if len(frame) == 1:
                kind, params = frame[0]
                fut = session.execute_async(statement(kind), params)
            else:
                fut = _submit_batch(
                    session,
                    [(statement(k), p) for k, p in frame],
                    table.consistency_level,
                    counter=bool(schema.counters),
                )
            frames.add(len(frame))
            for _kind, params in frame:
                sizes.add(_estimate_statement_bytes(params))
            futures.append(fut)

        run_key = object()
        frame: list[tuple[str, dict]] = []
        try:
            for row in rows:
                r = tuple(row)  # Row.__getitem__ is a Python-level call
                key = r[1:key_end]
                if frame and (key != run_key or len(frame) == max_batch):
                    submit(frame)
                    frame = []
                run_key = key
                kind = r[0]
                binds = plan[kind][1]
                params = {n: (d if (v := r[i]) is None else v) for n, i, d in binds}
                frame.append((kind, params))
            if frame:
                submit(frame)
            while futures:
                futures.popleft().result()
        except Exception:
            # A failed write fails the task and Spark retries the batch:
            # await every request still in flight first, so none of this
            # attempt's writes can land after (and overwrite) the retry's.
            while futures:
                try:
                    futures.popleft().result()
                except Exception:
                    pass  # the first failure is the one re-raised
            raise
        yield frames, sizes

    # SQL text and column names, so the narrowing builds no Column in Python.
    narrow = [f"{statement_kind_sql(table, schema)} AS _statement_kind"] + [
        quote(c) if c in present else f"NULL AS {quote(c)}" for c in names
    ]
    narrowed = routed.selectExpr(*narrow)
    if pk:
        narrowed = narrowed.repartition(*[quote(c) for c in pk]).sortWithinPartitions(
            *[quote(c) for c in sort_cols]
        )
    parts = narrowed.rdd.mapPartitions(write_partition).collect()
    frames, sizes = Histogram(), Histogram(pow2=True)
    for task_frames, task_sizes in parts:
        frames.merge(task_frames)
        sizes.merge(task_sizes)
    singles = frames.buckets.get(1, 0)
    return {
        "rows": frames.sum,
        "batches": frames.n - singles,
        "singles": singles,
        "batch_size_hist": frames,
        "batch_bytes_hist": sizes,
    }


# Reference's startup application name (CassandraSinkTask.java:41); the
# version string is the connector release the reference passes alongside it
# (LifeCycleManagerIT.java:63,89-90).
APPLICATION_NAME = "DataStax Apache Kafka Connector"

# Shortcut global → driver option it aliases (sample:236-238). An EXPLICIT
# shortcut wins over a datastax-java-driver.* passthrough of the same
# option; a defaulted shortcut must not clobber an explicit passthrough.
_SHORTCUT_OPTIONS = {
    "queryExecutionTimeout": "basic.request.timeout",
    "connectionPoolLocalSize": "advanced.connection.pool.local.size",
    "compression": "advanced.protocol.compression",
}

# HOCON duration units (typesafe-config HOCON spec §durations, the syntax the
# java driver accepts for datastax-java-driver.* passthrough values such as
# "30 seconds" / "1 minutes" / "500 ms") → seconds multiplier.
_DURATION_UNITS_S = {
    "ns": 1e-9, "nano": 1e-9, "nanos": 1e-9, "nanosecond": 1e-9, "nanoseconds": 1e-9,
    "us": 1e-6, "micro": 1e-6, "micros": 1e-6, "microsecond": 1e-6, "microseconds": 1e-6,
    "ms": 1e-3, "milli": 1e-3, "millis": 1e-3, "millisecond": 1e-3, "milliseconds": 1e-3,
    "s": 1.0, "second": 1.0, "seconds": 1.0,
    "m": 60.0, "minute": 60.0, "minutes": 60.0,
    "h": 3600.0, "hour": 3600.0, "hours": 3600.0,
    "d": 86400.0, "day": 86400.0, "days": 86400.0,
}


def _parse_duration_seconds(value, option: str) -> int:
    """Whole seconds from a shortcut int or a HOCON duration string.

    Shortcut values (``queryExecutionTimeout``) are plain second counts; a
    ``datastax-java-driver.*`` passthrough may instead use the java driver's
    duration syntax ("30 seconds", "1 minutes", "500 ms"), which the
    reference forwards verbatim (LifeCycleManagerIT passthrough contract).
    Sub-second durations round up to 1s (the settings consumer — metrics
    highest-latency = timeout+5s — works in whole seconds).
    """
    if isinstance(value, (int, float)):
        return int(value)
    text = str(value).strip()
    try:
        return int(text)
    except ValueError:
        pass
    import re as _re

    m = _re.fullmatch(r"([0-9]+(?:\.[0-9]+)?)\s*([a-zA-Z]+)", text)
    if m and m.group(2) in _DURATION_UNITS_S:
        seconds = float(m.group(1)) * _DURATION_UNITS_S[m.group(2)]
        return max(1, int(round(seconds)))
    raise ConfigError(
        f"{option}: cannot parse {text!r} as a duration — expected an "
        "integer second count or a java-driver duration string like "
        "'30 seconds', '1 minutes', '500 ms'"
    )


def build_session_settings(
    config: SinkConfig,
    version: str = "unknown",
    application_name: str = APPLICATION_NAME,
) -> dict:
    """Resolve a SinkConfig into the declarative session/execution-profile
    parameter set the reference's ``LifeCycleManager.buildCqlSession``
    produces (LifeCycleManagerIT.java:71-260 pins the observable surface):

    - ``basic.contact-points`` from the shortcut ``contactPoints``+``port``;
      a ``datastax-java-driver.basic.contact-points`` passthrough is IGNORED
      when the shortcut is present (LifeCycleManagerIT.java:213-217);
    - contact points stay UNRESOLVED host strings when
      ``ssl.hostnameValidation=false`` and are marked for resolution
      otherwise (LifeCycleManagerIT.java:71-197: endPoint.resolve()
      isUnresolved iff validation is off);
    - defaults the IT reads off the default profile: request timeout 30 s,
      pool local size 4, compression "None", metrics session enabled
      ``cql-client-timeouts``+``cql-requests`` at a 30 s interval, node
      cql-messages highest latency = request timeout + 5 s
      (LifeCycleManagerIT.java:241-260);
    - every ``datastax-java-driver.*`` key passes through verbatim
      (LifeCycleManagerIT.java:199-237);
    - startup identification: application name/version + a non-null client
      id (LifeCycleManagerIT.java:263-291);
    - auth/ssl/cloud sections from the sample's option surface, with the
      PLAIN inference and CL clamping already applied by parse_sink_config.
    """
    import uuid

    settings: dict = {}
    # Passthrough first; explicit shortcuts overwrite below only when the
    # reference documents them as the alias of that driver option.
    for k, v in config.driver_settings.items():
        if k == "basic.contact-points":
            continue  # shortcut contactPoints always present → prefix ignored
        settings[k] = v
    for shortcut, option in _SHORTCUT_OPTIONS.items():
        if shortcut in config.explicit_globals or option not in settings:
            settings[option] = {
                "queryExecutionTimeout": config.query_execution_timeout_s,
                "connectionPoolLocalSize": config.connection_pool_local_size,
                "compression": config.compression,
            }[shortcut]
    # Normalize passthrough-typed values for the options we interpret.
    settings["basic.request.timeout"] = _parse_duration_seconds(
        settings["basic.request.timeout"], option="basic.request.timeout"
    )
    settings["advanced.connection.pool.local.size"] = int(
        settings["advanced.connection.pool.local.size"]
    )
    settings["basic.contact-points"] = [
        f"{host}:{config.port}" for host in config.contact_points
    ]
    if config.local_dc:
        settings["basic.load-balancing-policy.local-datacenter"] = config.local_dc
    settings.setdefault(
        "advanced.metrics.session.enabled", ["cql-client-timeouts", "cql-requests"]
    )
    settings.setdefault("advanced.metrics.session.cql-requests.interval", 30)
    settings.setdefault(
        "advanced.metrics.node.cql-messages.highest-latency",
        settings["basic.request.timeout"] + 5,
    )
    settings["application"] = {
        "name": application_name,
        "version": version,
        "client_id": str(uuid.uuid4()),
    }
    settings["auth"] = {
        "provider": config.auth_provider,
        "username": config.auth_username,
        "password": config.auth_password,
        "gssapi_key_tab": config.auth_gssapi_key_tab,
        "gssapi_principal": config.auth_gssapi_principal,
        "gssapi_service": config.auth_gssapi_service,
    }
    settings["ssl"] = {
        "provider": config.ssl_provider,
        "hostname_validation": config.ssl_hostname_validation,
        "resolve_contact_points": config.ssl_hostname_validation,
        "cipher_suites": list(config.ssl_cipher_suites),
        "keystore_path": config.ssl_keystore_path,
        "keystore_password": config.ssl_keystore_password,
        "truststore_path": config.ssl_truststore_path,
        "truststore_password": config.ssl_truststore_password,
        "openssl_key_cert_chain": config.ssl_openssl_key_cert_chain,
        "openssl_private_key": config.ssl_openssl_private_key,
    }
    if config.secure_connect_bundle:
        settings["advanced.cloud.secure-connect-bundle"] = config.secure_connect_bundle
    return settings


def _kerberos_auth_provider():  # pragma: no cover - needs optional package
    """Kerberos provider for the production transport, resolved lazily.

    The python driver's GSSAPI support lives in the optional DSE extras
    (``DSEGSSAPIAuthProvider``, backed by ``puresasl[gssapi]``); unlike the
    java driver it takes no keytab parameter — the keytab is activated via
    the standard ``KRB5_KTNAME`` mechanism. Returns a factory with the
    (service, principal, keytab) signature ``cassandra_session_factory``
    calls, or raises ``ConfigError`` naming the missing optional package so
    auth.provider=GSSAPI fails with a clear message instead of an
    AttributeError at session-build time.
    """
    try:
        from cassandra.auth import DSEGSSAPIAuthProvider  # type: ignore
    except ImportError as exc:
        raise ConfigError(
            "auth.provider=GSSAPI requires the optional Kerberos support of "
            "the cassandra-driver package (cassandra.auth.DSEGSSAPIAuthProvider, "
            "backed by 'puresasl[gssapi]'); install 'cassandra-driver' with "
            f"'pure-sasl' to enable it ({exc})"
        ) from exc

    def provider(service=None, principal=None, keytab=None):
        if keytab:
            # python-side GSSAPI reads the keytab from the environment
            # (MIT krb5 client keytab); the java driver takes it directly.
            import os

            os.environ.setdefault("KRB5_CLIENT_KTNAME", keytab)
        kwargs = {}
        if service:
            kwargs["service"] = service
        if principal:
            kwargs["principal"] = principal
        return DSEGSSAPIAuthProvider(**kwargs)

    return provider


# HTTP(S) secure-connect bundles downloaded by the session factory, keyed by
# URL. The factory runs once per session construction (per executor process);
# without a cache each call would leak one temp zip holding the client TLS
# private key. Files are 0600 and removed at interpreter exit.
_BUNDLE_CACHE: dict[str, str] = {}


def _materialize_bundle(url: str) -> str:
    """Fetch+validate an HTTP(S) secure-connect bundle to a local zip path,
    once per URL per process (CloudSniEndToEndIT.java:152-168 drives the
    URL form). The zip contains the client private key, so the temp file is
    created 0600 and registered for cleanup at exit."""
    import os
    import tempfile

    cached = _BUNDLE_CACHE.get(url)
    if cached is not None and os.path.exists(cached):
        return cached

    from kafka_sink_spark.cloud import fetch_secure_bundle, parse_secure_bundle

    raw = fetch_secure_bundle(url)
    parse_secure_bundle(raw)  # reject corrupt downloads early
    fd, path = tempfile.mkstemp(suffix=".zip", prefix="scb-")
    try:
        os.fchmod(fd, 0o600)
        os.write(fd, raw)
    finally:
        os.close(fd)

    def _cleanup(p=path):
        try:
            os.unlink(p)
        except OSError:
            pass

    atexit.register(_cleanup)
    _BUNDLE_CACHE[url] = path
    return path


def _real_driver():  # pragma: no cover - needs optional package
    """The production transport: the ``cassandra-driver`` package surfaced
    as the namespace-of-classes interface the factory consumes. Tests
    inject a fake with the same attributes instead."""
    import types

    from cassandra.auth import PlainTextAuthProvider  # type: ignore
    from cassandra.cluster import (  # type: ignore
        EXEC_PROFILE_DEFAULT,
        Cluster,
        ExecutionProfile,
    )
    from cassandra.policies import (  # type: ignore
        DCAwareRoundRobinPolicy,
        TokenAwarePolicy,
    )

    class _LazyKerberos:
        """Defers the optional-import error to first GSSAPI use."""

        def __call__(self, **kwargs):
            return _kerberos_auth_provider()(**kwargs)

    return types.SimpleNamespace(
        Cluster=Cluster,
        ExecutionProfile=ExecutionProfile,
        EXEC_PROFILE_DEFAULT=EXEC_PROFILE_DEFAULT,
        PlainTextAuthProvider=PlainTextAuthProvider,
        KerberosAuthProvider=_LazyKerberos(),
        DCAwareRoundRobinPolicy=DCAwareRoundRobinPolicy,
        TokenAwarePolicy=TokenAwarePolicy,
    )


# Connected sessions, one per worker process and resolved settings, as
# (cluster, session). The factory runs in every write task, once per
# partition per micro-batch; a Cluster is a connection pool with its own
# threads, so it is built once and shut down at interpreter exit. A process
# that leaves through os._exit (PySpark's daemon-forked workers do) skips
# atexit hooks; its sockets close with the process.
_SESSIONS: dict[str, tuple[object, object]] = {}


def _shutdown_sessions() -> None:
    """Shut down every cached session's cluster, once each."""
    while _SESSIONS:
        _key, (cluster, _session) = _SESSIONS.popitem()
        try:
            cluster.shutdown()
        except Exception:
            pass  # a failed shutdown must not keep the others open


atexit.register(_shutdown_sessions)


def cassandra_session_factory(
    config: SinkConfig,
    version: str = "unknown",
    application_name: str = APPLICATION_NAME,
    driver=None,
) -> Callable[[], object]:
    """Session factory from the connector config via the resolved settings
    of :func:`build_session_settings`.

    ``driver`` is the transport namespace (``Cluster``, policies, auth
    provider classes); it defaults to the real ``cassandra-driver`` package
    at call time, and tests inject a fake to pin the exact constructor
    parameters without a live cluster (the LifeCycleManagerIT surface).

    The factory connects once per worker process: later calls with the
    same resolved settings (client id included, so one factory's) return
    the cached session.

    TLS is not wired to the driver yet, so a config that asks for it
    (``ssl.provider`` JDK or OpenSSL) is refused here rather than
    connected in plaintext.
    """
    if config.ssl_provider != "None":
        raise ConfigError(
            f"ssl.provider={config.ssl_provider} is not supported by the session "
            "factory yet; it would connect without TLS"
        )
    settings = build_session_settings(config, version, application_name)
    key = json.dumps(settings, sort_keys=True, default=repr)

    def factory() -> object:
        cached = _SESSIONS.get(key)
        if cached is not None:
            return cached[1]
        drv = driver if driver is not None else _real_driver()
        kwargs: dict = {"port": config.port}
        if "advanced.cloud.secure-connect-bundle" in settings:
            # Cloud mode: the bundle supplies endpoints + SSL; contact
            # points must not be passed (CloudSniEndToEndIT.java:92-133).
            # An HTTP(S) bundle URL (CloudSniEndToEndIT.java:152-168) is
            # fetched+validated to a local temp file, since the driver
            # wants a filesystem path.
            location = settings["advanced.cloud.secure-connect-bundle"]
            if location.startswith(("http://", "https://")):
                location = _materialize_bundle(location)
            kwargs["cloud"] = {"secure_connect_bundle": location}
            # SNI routing from the bundle owns endpoint selection; never
            # pass a load_balancing_policy alongside it (parse_sink_config
            # rejects loadBalancing.localDc with a bundle, so local_dc is
            # None here for any config that parsed — this guard is belt
            # and braces for hand-built SinkConfig objects).
        else:
            kwargs["contact_points"] = list(config.contact_points)
            if config.local_dc:
                kwargs["load_balancing_policy"] = drv.TokenAwarePolicy(
                    drv.DCAwareRoundRobinPolicy(local_dc=config.local_dc)
                )
        auth = settings["auth"]
        if auth["provider"] == "PLAIN":
            kwargs["auth_provider"] = drv.PlainTextAuthProvider(
                username=auth["username"], password=auth["password"]
            )
        elif auth["provider"] == "GSSAPI":
            # The python driver's kerberos provider lives in a separate
            # optional package (pure-sasl); surface it via the injected
            # transport namespace so the mapping stays testable.
            kwargs["auth_provider"] = drv.KerberosAuthProvider(
                service=auth["gssapi_service"],
                principal=auth["gssapi_principal"],
                keytab=auth["gssapi_key_tab"],
            )
        compression = settings["advanced.protocol.compression"]
        kwargs["compression"] = (
            False if compression == "None" else compression.lower()
        )
        profile_kwargs = {
            "request_timeout": settings["basic.request.timeout"],
        }
        if "basic.request.consistency" in settings:
            profile_kwargs["consistency_level"] = settings[
                "basic.request.consistency"
            ]
        default_key = getattr(drv, "EXEC_PROFILE_DEFAULT", "default")
        kwargs["execution_profiles"] = {
            default_key: drv.ExecutionProfile(**profile_kwargs)
        }
        cluster = drv.Cluster(**kwargs)
        session = cluster.connect()
        _SESSIONS[key] = (cluster, session)
        return session

    return factory
