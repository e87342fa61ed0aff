"""Connector configuration model.

Mirrors the reference's documented config surface
(reference: dist/conf/cassandra-sink-standalone.properties.sample:1-259):
global connection/session keys, per-topic ``topic.<topic>.codec.*`` keys, and
per-table ``topic.<topic>.<keyspace>.<table>.*`` keys. Parsing of topic names
containing dots/dashes follows reference behavior (KAF-104,
reference: sink/src/it/java/com/datastax/oss/kafka/sink/ccm/RawDataEndToEndCCMIT.java:62-75):
table-scoped keys are recognized by their known trailing setting name.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo, ZoneInfoNotFoundError

from kafka_sink_spark.mapping.parser import MappingEntry, MappingError, parse_mapping

# Per-table setting names (sample:129-185).
_TABLE_SETTINGS = {
    "mapping",
    "query",
    "ttl",
    "ttlTimeUnit",
    "timestampTimeUnit",
    "nullToUnset",
    "deletesEnabled",
    "consistencyLevel",
}
# Per-topic codec settings (sample:187-225): key → CodecConfig field.
_CODEC_SETTINGS = {
    "locale": "locale",
    "timeZone": "time_zone",
    "date": "date_pattern",
    "time": "time_pattern",
    "timestamp": "timestamp_pattern",
    "unit": "unit",
}

# codec.locale → (grouping separator, decimal separator): the locales
# functions.codecs parses numbers in. Covers the locales the reference tests
# exercise (fr_FR in JsonEndToEndCCMIT.java:310) plus common ones.
LOCALE_SEPS = {
    "en_US": (",", "."),
    "en_GB": (",", "."),
    "fr_FR": ("\u202f", ","),  # narrow no-break space grouping
    "de_DE": (".", ","),
    "es_ES": (".", ","),
    "it_IT": (".", ","),
}

_TIME_UNITS = {
    "NANOSECONDS": 1e-9,
    "MICROSECONDS": 1e-6,
    "MILLISECONDS": 1e-3,
    "SECONDS": 1.0,
    "MINUTES": 60.0,
    "HOURS": 3600.0,
    "DAYS": 86400.0,
}


class ConfigError(ValueError):
    """Reference ConfigException equivalent."""


@dataclass
class ColumnSpec:
    """A target-table column: name, Spark SQL type string, role flags.

    ``partition_key`` marks the Cassandra partition-key component(s) of the
    primary key (W8 batches by ROUTING key = partition key, not the full
    primary key). When no column is flagged, the first primary-key column is
    the partition key — Cassandra's default for a non-composite PARTITION KEY.
    """

    name: str
    spark_type: str
    primary_key: bool = False
    counter: bool = False
    partition_key: bool = False


@dataclass
class TableSchema:
    """Target table metadata — stands in for Cassandra cluster metadata.

    The reference fetches this from the cluster at task start and validates the
    mapping against it (reference: HeadersCCMIT.java:245-265). Here callers
    declare it (tests/oracle mode) or it could come from a live cluster via the
    cassandra-driver when available.
    """

    keyspace: str
    name: str
    columns: list[ColumnSpec]

    def __post_init__(self) -> None:
        self.by_name = {c.name: c for c in self.columns}
        self.primary_key = [c.name for c in self.columns if c.primary_key]
        self.counters = [c.name for c in self.columns if c.counter]
        if not self.primary_key:
            raise ConfigError(f"table {self.name} has no primary key")
        self.partition_key = [c.name for c in self.columns if c.partition_key]
        for c in self.partition_key:
            if c not in self.primary_key:
                raise ConfigError(
                    f"table {self.name}: partition-key column {c} is not part "
                    f"of the primary key"
                )
        if not self.partition_key:
            # Cassandra default: the first primary-key component is the
            # partition key; the rest are clustering columns.
            self.partition_key = self.primary_key[:1]

    @property
    def clustering_columns(self) -> list[str]:
        return [c for c in self.primary_key if c not in self.partition_key]

    @property
    def regular_columns(self) -> list[str]:
        return [c.name for c in self.columns if not c.primary_key]


@dataclass
class CodecConfig:
    """Per-topic codec settings (sample:187-225)."""

    locale: str = "en_US"
    time_zone: str = "UTC"
    date_pattern: str = "ISO_LOCAL_DATE"
    time_pattern: str = "ISO_LOCAL_TIME"
    timestamp_pattern: str = "CQL_TIMESTAMP"
    unit: str = "MILLISECONDS"

    def __post_init__(self) -> None:
        # Refused here, once: the mapping converts every row with these.
        if self.unit not in _TIME_UNITS:
            raise ConfigError(
                f"codec.unit must be one of {', '.join(_TIME_UNITS)}, got: {self.unit}"
            )
        if self.locale not in LOCALE_SEPS:
            raise ConfigError(
                f"codec.locale must be one of {', '.join(LOCALE_SEPS)}, got: {self.locale}"
            )
        if not _is_zone_id(self.time_zone):
            raise ConfigError(f"codec.timeZone is not a time-zone id: {self.time_zone}")


# A zone offset as java.time.ZoneId reads it: Z, +h, +hh:mm, UTC+hh:mm, ...
_ZONE_OFFSET = re.compile(r"Z|(UTC|GMT|UT)?([+-]\d{1,2}(:?\d{2}(:?\d{2})?)?)?")


def _is_zone_id(zone: str) -> bool:
    """Whether ``zone`` names a region of the tz database or a fixed offset."""
    if zone and _ZONE_OFFSET.fullmatch(zone):
        return True
    try:
        ZoneInfo(zone)
    except (ZoneInfoNotFoundError, ValueError):
        return False
    return True


@dataclass
class TableConfig:
    """Per-table write config: the compiled unit of the connector.

    Defaults follow the sample config: deletesEnabled=true (sample:181-185),
    nullToUnset=true (sample:177-179), ttlTimeUnit=SECONDS and
    timestampTimeUnit=MICROSECONDS (sample:156-167), consistencyLevel=LOCAL_ONE
    (sample:169-170).
    """

    topic: str
    keyspace: str
    table: str
    mapping: list[MappingEntry] = field(default_factory=list)
    query: str | None = None
    ttl: int | None = None  # static table-level TTL seconds (sample:172-175)
    ttl_time_unit: str = "SECONDS"
    timestamp_time_unit: str = "MICROSECONDS"
    null_to_unset: bool = True
    deletes_enabled: bool = True
    consistency_level: str = "LOCAL_ONE"
    codec: CodecConfig = field(default_factory=CodecConfig)

    def __post_init__(self) -> None:
        if self.query is not None and self.deletes_enabled:
            # Reference: provided query requires deletesEnabled=false
            # (ProvidedQueryCCMIT.java:132-163).
            raise ConfigError(
                f"topic {self.topic}: provided query requires deletesEnabled=false"
            )
        for unit_name in (self.ttl_time_unit, self.timestamp_time_unit):
            if unit_name not in _TIME_UNITS:
                raise ConfigError(f"unknown time unit {unit_name}")

    def validate_against(self, schema: TableSchema) -> None:
        """Mapping validation the reference performs at task start
        (reference: SimpleEndToEndSimulacronIT.java:286-315 — fail-fast)."""
        if self.query is not None:
            return  # provided query skips column/PK validation (W5)
        mapped = {
            e.column for e in self.mapping if e.column not in ("__ttl", "__timestamp")
        }
        unknown = mapped - set(schema.by_name)
        if unknown:
            raise ConfigError(
                f"mapping for {self.keyspace}.{self.table} references unknown "
                f"columns: {sorted(unknown)}"
            )
        missing_pk = set(schema.primary_key) - mapped
        if missing_pk:
            raise ConfigError(
                f"mapping for {self.keyspace}.{self.table} does not map primary "
                f"key columns: {sorted(missing_pk)}"
            )

    def covers_all_columns(self, schema: TableSchema) -> bool:
        """Delete-on-null precondition: mapping covers every table column
        (reference: DeleteCCMIT.java:40-60)."""
        mapped = {
            e.column for e in self.mapping if e.column not in ("__ttl", "__timestamp")
        }
        return set(schema.by_name) <= mapped


@dataclass
class SinkConfig:
    """Whole-connector config: global keys + per-table configs."""

    tables: list[TableConfig]
    contact_points: list[str] = field(default_factory=lambda: ["localhost"])
    port: int = 9042
    local_dc: str | None = None
    max_concurrent_requests: int = 500  # sample:35-36
    max_number_of_records_in_batch: int = 32  # sample:38-39
    connection_pool_local_size: int = 4  # sample:41-42
    query_execution_timeout_s: int = 30  # sample:44-45
    compression: str = "None"  # sample:59-61
    ignore_errors: str = "None"  # None | Driver | All (KAF-200)
    secure_connect_bundle: str | None = None
    driver_settings: dict[str, str] = field(default_factory=dict)
    # Auth (sample:67-83; PlaintextAuthCCMIT.java:80-121 pins the PLAIN
    # inference: credentials with provider None/absent coerce to PLAIN).
    auth_provider: str = "None"  # None | PLAIN | GSSAPI
    auth_username: str | None = None
    auth_password: str | None = None
    auth_gssapi_key_tab: str | None = None
    auth_gssapi_principal: str | None = None
    auth_gssapi_service: str = "dse"  # sample:83
    # SSL (sample:91-116; SslHostnameValidationCCMIT pins hostname
    # validation; LifeCycleManagerIT.java:71-134 pins that contact points
    # stay UNRESOLVED when hostnameValidation=false and resolve otherwise).
    ssl_provider: str = "None"  # None | JDK | OpenSSL
    ssl_hostname_validation: bool = True
    ssl_cipher_suites: list[str] = field(default_factory=list)
    ssl_keystore_path: str | None = None
    ssl_keystore_password: str | None = None
    ssl_truststore_path: str | None = None
    ssl_truststore_password: str | None = None
    ssl_openssl_key_cert_chain: str | None = None
    ssl_openssl_private_key: str | None = None
    # Which global shortcut keys were explicitly present in the raw
    # properties — build_session_settings uses this to decide whether a
    # shortcut overrides a datastax-java-driver.* passthrough for the same
    # driver option (an explicit shortcut is the documented alias and wins;
    # a defaulted one must not clobber an explicit prefixed setting).
    explicit_globals: frozenset[str] = field(default_factory=frozenset)

    def __post_init__(self) -> None:
        # The writer chunks key runs by the batch cap and bounds its
        # in-flight window by the request cap: below 1 it would write
        # nothing or fail on the executor.
        for key, value in (
            ("maxNumberOfRecordsInBatch", self.max_number_of_records_in_batch),
            ("maxConcurrentRequests", self.max_concurrent_requests),
        ):
            if value < 1:
                raise ConfigError(f"{key} must be at least 1, got {value}")
        # The error policy is matched by exact name: any other value would
        # silently act as None.
        if self.ignore_errors not in ("None", "Driver", "All"):
            raise ConfigError(
                f"ignoreErrors must be None, Driver or All, got: {self.ignore_errors}"
            )


def parse_sink_config(props: dict[str, str]) -> SinkConfig:
    """Parse flat connector properties into a SinkConfig.

    Handles topic names containing '.' and '-' by anchoring on the known
    trailing setting name (KAF-104): for ``topic.<name>.<ks>.<tbl>.<setting>``
    the last component must be a known table setting and the two before it are
    keyspace and table.
    """
    table_raw: dict[tuple[str, str, str], dict[str, str]] = {}
    codec_raw: dict[str, dict[str, str]] = {}
    globals_raw: dict[str, str] = {}
    driver_settings: dict[str, str] = {}

    for key, val in props.items():
        if key.startswith("datastax-java-driver."):
            # Driver-prefix passthrough (sample:227-259).
            driver_settings[key[len("datastax-java-driver.") :]] = val
        elif key.startswith("topic."):
            rest = key[len("topic.") :]
            parts = rest.split(".")
            if len(parts) >= 3 and parts[-2] == "codec" and parts[-1] in _CODEC_SETTINGS:
                topic = ".".join(parts[:-2])
                codec_raw.setdefault(topic, {})[parts[-1]] = val
            elif len(parts) >= 4 and parts[-1] in _TABLE_SETTINGS:
                topic = ".".join(parts[:-3])
                ks, tbl = parts[-3], parts[-2]
                table_raw.setdefault((topic, ks, tbl), {})[parts[-1]] = val
            else:
                raise ConfigError(f"unrecognized topic setting: {key}")
        else:
            globals_raw[key] = val

    tables: list[TableConfig] = []
    for (topic, ks, tbl), settings in sorted(table_raw.items()):
        codec = CodecConfig(
            **{_CODEC_SETTINGS[k]: v for k, v in codec_raw.get(topic, {}).items()}
        )
        mapping_str = settings.get("mapping")
        if mapping_str is None and "query" not in settings:
            raise ConfigError(f"topic {topic}: table {ks}.{tbl} has no mapping")
        try:
            mapping = parse_mapping(mapping_str) if mapping_str else []
        except MappingError as exc:
            raise ConfigError(f"topic {topic}: {exc}") from exc
        tables.append(
            TableConfig(
                topic=topic,
                keyspace=ks,
                table=tbl,
                mapping=mapping,
                query=settings.get("query"),
                ttl=int(settings["ttl"]) if "ttl" in settings else None,
                ttl_time_unit=settings.get("ttlTimeUnit", "SECONDS"),
                timestamp_time_unit=settings.get("timestampTimeUnit", "MICROSECONDS"),
                null_to_unset=settings.get("nullToUnset", "true").lower() == "true",
                deletes_enabled=settings.get("deletesEnabled", "true").lower() == "true",
                consistency_level=settings.get("consistencyLevel", "LOCAL_ONE"),
                codec=codec,
            )
        )

    if not tables:
        raise ConfigError("no topic.<topic>.<keyspace>.<table>.* settings found")

    cloud_bundle = globals_raw.get("cloud.secureConnectBundle")
    if cloud_bundle and "contactPoints" in globals_raw:
        # Reference rejects contactPoints+cloud combo (CloudSniEndToEndIT.java:92-133).
        raise ConfigError("cloud.secureConnectBundle is mutually exclusive with contactPoints")
    if cloud_bundle and "loadBalancing.localDc" in globals_raw:
        # The bundle pins the local DC and SNI routing; an explicit localDc
        # would conflict (cassandra-sink-standalone.properties.sample:10-11
        # forbids contactPoints, loadBalancing.localDc and ssl.* with cloud).
        raise ConfigError(
            "cloud.secureConnectBundle is mutually exclusive with "
            "loadBalancing.localDc"
        )
    if cloud_bundle:
        # The bundle supplies the whole TLS configuration; explicit ssl.*
        # settings alongside it are contradictory and rejected (the bundle
        # already pins truststore/keystore/hostname validation).
        ssl_keys = sorted(k for k in globals_raw if k.startswith("ssl."))
        if ssl_keys:
            raise ConfigError(
                "cloud.secureConnectBundle is mutually exclusive with ssl.* "
                f"settings (got: {', '.join(ssl_keys)})"
            )

    # Auth: PLAIN is inferred when credentials are present but the provider
    # is absent or "None" (PlaintextAuthCCMIT.java:95-121 "should infer
    # auth.provider to PLAIN"); explicit PLAIN without both credentials is a
    # config error (dsbulk AuthenticatorConfig contract).
    auth_provider = globals_raw.get("auth.provider", "None")
    auth_username = globals_raw.get("auth.username")
    auth_password = globals_raw.get("auth.password")
    if auth_provider not in ("None", "PLAIN", "GSSAPI"):
        raise ConfigError(
            f"auth.provider must be None, PLAIN or GSSAPI, got: {auth_provider}"
        )
    if auth_provider == "None" and (auth_username or auth_password):
        auth_provider = "PLAIN"
    if auth_provider == "PLAIN" and not (auth_username and auth_password):
        raise ConfigError(
            "auth.provider=PLAIN requires both auth.username and auth.password"
        )

    ssl_provider = globals_raw.get("ssl.provider", "None")
    if ssl_provider not in ("None", "JDK", "OpenSSL"):
        raise ConfigError(
            f"ssl.provider must be None, JDK or OpenSSL, got: {ssl_provider}"
        )

    cfg = SinkConfig(
        tables=tables,
        contact_points=[
            p.strip() for p in globals_raw.get("contactPoints", "localhost").split(",")
        ],
        port=int(globals_raw.get("port", "9042")),
        local_dc=globals_raw.get("loadBalancing.localDc"),
        max_concurrent_requests=int(globals_raw.get("maxConcurrentRequests", "500")),
        max_number_of_records_in_batch=int(
            globals_raw.get("maxNumberOfRecordsInBatch", "32")
        ),
        connection_pool_local_size=int(globals_raw.get("connectionPoolLocalSize", "4")),
        query_execution_timeout_s=int(globals_raw.get("queryExecutionTimeout", "30")),
        compression=globals_raw.get("compression", "None"),
        ignore_errors=globals_raw.get("ignoreErrors", "None"),
        secure_connect_bundle=cloud_bundle,
        driver_settings=driver_settings,
        auth_provider=auth_provider,
        auth_username=auth_username,
        auth_password=auth_password,
        auth_gssapi_key_tab=globals_raw.get("auth.gssapi.keyTab"),
        auth_gssapi_principal=globals_raw.get("auth.gssapi.principal"),
        auth_gssapi_service=globals_raw.get("auth.gssapi.service", "dse"),
        ssl_provider=ssl_provider,
        ssl_hostname_validation=(
            globals_raw.get("ssl.hostnameValidation", "true").lower() == "true"
        ),
        ssl_cipher_suites=[
            s.strip()
            for s in globals_raw.get("ssl.cipherSuites", "").split(",")
            if s.strip()
        ],
        ssl_keystore_path=globals_raw.get("ssl.keystore.path"),
        ssl_keystore_password=globals_raw.get("ssl.keystore.password"),
        ssl_truststore_path=globals_raw.get("ssl.truststore.path"),
        ssl_truststore_password=globals_raw.get("ssl.truststore.password"),
        ssl_openssl_key_cert_chain=globals_raw.get("ssl.openssl.keyCertChain"),
        ssl_openssl_private_key=globals_raw.get("ssl.openssl.privateKey"),
        explicit_globals=frozenset(globals_raw),
    )
    if cfg.secure_connect_bundle:
        # Cloud mode forces LOCAL_QUORUM (CloudSniEndToEndIT.java:103).
        for t in cfg.tables:
            if t.consistency_level in ("ANY", "ONE", "LOCAL_ONE"):
                t.consistency_level = "LOCAL_QUORUM"
    return cfg


def time_unit_to_seconds(unit: str) -> float:
    return _TIME_UNITS[unit]
