"""Fake-transport tests for the session construction path (S5/W10/W11).

``cassandra_session_factory`` is driven against an injected driver
namespace (FakeDriver) that records every constructor call, so the exact
config → session parameter mapping is pinned the way the reference's
``LifeCycleManagerIT.java:71-291`` pins ``LifeCycleManager.buildCqlSession``
— without a live cluster.  No Spark needed: these tests are pure Python.
"""

import types

import pytest

from kafka_sink_spark.config import ConfigError, parse_sink_config
from kafka_sink_spark.operators.cassandra_writer import (
    APPLICATION_NAME,
    build_session_settings,
    cassandra_session_factory,
)

BASE = {
    "name": "test-sink",
    "contactPoints": "host-a,host-b",
    "port": "9043",
    "loadBalancing.localDc": "dc1",
    "topic.t.ks.tbl.mapping": "pk=key",
}


def cfg(extra=None, base=None):
    props = dict(base if base is not None else BASE)
    if extra:
        props.update(extra)
    return parse_sink_config(props)


# ---------------------------------------------------------------------------
# FakeDriver: records constructor parameters (the "fake transport")
# ---------------------------------------------------------------------------


class _Recorder:
    def __init__(self, name, log, *args, **kwargs):
        self.name = name
        self.args = args
        self.kwargs = kwargs
        log.append((name, kwargs))


class FakeSession:
    def __init__(self, cluster):
        self.cluster = cluster


class FakeCluster:
    def __init__(self, log, **kwargs):
        self.kwargs = kwargs
        log.append(("Cluster", kwargs))
        self.session = FakeSession(self)
        self.connects = 0

    def connect(self):
        self.connects += 1
        return self.session


def fake_driver(log):
    def rec(name):
        return lambda *a, **kw: _Recorder(name, log, *a, **kw)

    return types.SimpleNamespace(
        Cluster=lambda **kw: FakeCluster(log, **kw),
        ExecutionProfile=rec("ExecutionProfile"),
        EXEC_PROFILE_DEFAULT="EXEC_PROFILE_DEFAULT",
        PlainTextAuthProvider=rec("PlainTextAuthProvider"),
        KerberosAuthProvider=rec("KerberosAuthProvider"),
        DCAwareRoundRobinPolicy=rec("DCAwareRoundRobinPolicy"),
        TokenAwarePolicy=rec("TokenAwarePolicy"),
    )


def build(config, **kw):
    log = []
    session = cassandra_session_factory(config, driver=fake_driver(log), **kw)()
    cluster_kwargs = next(kw for name, kw in log if name == "Cluster")
    return session, cluster_kwargs, log


# ---------------------------------------------------------------------------
# One connected session per worker process
# ---------------------------------------------------------------------------


def test_factory_connects_once_per_process():
    log = []
    factory = cassandra_session_factory(cfg(), driver=fake_driver(log))
    first, second = factory(), factory()
    assert first is second
    assert [name for name, _ in log].count("Cluster") == 1
    assert first.cluster.connects == 1


def test_factories_with_different_settings_get_different_sessions():
    log = []
    drv = fake_driver(log)
    a = cassandra_session_factory(cfg(), driver=drv)()
    b = cassandra_session_factory(cfg({"port": "9044"}), driver=drv)()
    assert a is not b
    assert (a.cluster.kwargs["port"], b.cluster.kwargs["port"]) == (9043, 9044)


_EXIT_SCRIPT = """
import types
from kafka_sink_spark.config import parse_sink_config
from kafka_sink_spark.operators.cassandra_writer import cassandra_session_factory

class Cluster:
    def __init__(self, **kw):
        self.port = kw["port"]
    def connect(self):
        return self
    def shutdown(self):
        print("shutdown", self.port, flush=True)

drv = types.SimpleNamespace(
    Cluster=Cluster, ExecutionProfile=lambda **kw: kw,
    EXEC_PROFILE_DEFAULT="default", PlainTextAuthProvider=lambda **kw: kw,
)
for port in ("9043", "9044"):
    factory = cassandra_session_factory(
        parse_sink_config({"contactPoints": "h", "port": port,
                           "topic.t.ks.tbl.mapping": "pk=key"}),
        driver=drv,
    )
    factory()
    factory()
print("exit", flush=True)
"""


def test_exit_hook_shuts_each_cluster_down_once():
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _EXIT_SCRIPT], cwd=root, capture_output=True,
        text=True, timeout=120, check=True,
    ).stdout.splitlines()
    assert out[0] == "exit"
    assert sorted(out[1:]) == ["shutdown 9043", "shutdown 9044"]


# ---------------------------------------------------------------------------
# Contact points / load balancing (LifeCycleManagerIT.java:71-197)
# ---------------------------------------------------------------------------


def test_contact_points_and_port_reach_the_cluster():
    session, kwargs, _ = build(cfg())
    assert isinstance(session, FakeSession)
    assert kwargs["contact_points"] == ["host-a", "host-b"]
    assert kwargs["port"] == 9043


def test_local_dc_builds_token_aware_dc_policy():
    _, kwargs, log = build(cfg())
    lbp = kwargs["load_balancing_policy"]
    assert lbp.name == "TokenAwarePolicy"
    (inner,) = lbp.args
    assert inner.name == "DCAwareRoundRobinPolicy"
    assert inner.kwargs == {"local_dc": "dc1"}


def test_contact_points_stay_unresolved_when_hostname_validation_off():
    # LifeCycleManagerIT.java:71-110: endPoint stays an unresolved DNS
    # name when ssl.hostnameValidation=false ...
    s = build_session_settings(cfg({"ssl.hostnameValidation": "false"}))
    assert s["ssl"]["resolve_contact_points"] is False
    # ... and resolves when validation is enabled (the default):
    # LifeCycleManagerIT.java:137-197.
    assert build_session_settings(cfg())["ssl"]["resolve_contact_points"] is True


def test_prefix_contact_points_ignored_when_shortcut_present():
    # LifeCycleManagerIT.java:213-217: datastax-java-driver.basic.contact-
    # points is ignored because contactPoints is provided as well.
    s = build_session_settings(
        cfg({"datastax-java-driver.basic.contact-points": "ignored-host:1"})
    )
    assert s["basic.contact-points"] == ["host-a:9043", "host-b:9043"]


# ---------------------------------------------------------------------------
# Profile defaults + passthrough (LifeCycleManagerIT.java:199-260)
# ---------------------------------------------------------------------------


def test_profile_defaults_match_the_reference():
    s = build_session_settings(cfg())
    assert s["basic.request.timeout"] == 30
    assert s["advanced.connection.pool.local.size"] == 4
    assert s["advanced.protocol.compression"] == "None"
    assert s["advanced.metrics.session.enabled"] == [
        "cql-client-timeouts",
        "cql-requests",
    ]
    assert s["advanced.metrics.session.cql-requests.interval"] == 30
    # node cql-messages highest latency = request timeout + 5 s
    assert s["advanced.metrics.node.cql-messages.highest-latency"] == 35
    assert "advanced.cloud.secure-connect-bundle" not in s


def test_driver_prefix_settings_pass_through():
    s = build_session_settings(
        cfg(
            {
                "datastax-java-driver.basic.config-reload-interval": "1 minutes",
                "datastax-java-driver.basic.request.consistency": "ALL",
                "datastax-java-driver.basic.request.default-idempotence": "true",
                "datastax-java-driver.advanced.reconnection-policy.class": "ConstantReconnectionPolicy",
                "datastax-java-driver.advanced.protocol.max-frame-length": "128 MB",
            }
        )
    )
    assert s["basic.config-reload-interval"] == "1 minutes"
    assert s["basic.request.consistency"] == "ALL"
    assert s["basic.request.default-idempotence"] == "true"
    assert s["advanced.reconnection-policy.class"] == "ConstantReconnectionPolicy"
    assert s["advanced.protocol.max-frame-length"] == "128 MB"


def test_explicit_shortcut_wins_over_prefix_alias():
    # queryExecutionTimeout is the documented alias of
    # basic.request.timeout (sample:236); when both are set the shortcut
    # wins, and the derived metrics bound follows it.
    s = build_session_settings(
        cfg(
            {
                "queryExecutionTimeout": "45",
                "datastax-java-driver.basic.request.timeout": "10",
            }
        )
    )
    assert s["basic.request.timeout"] == 45
    assert s["advanced.metrics.node.cql-messages.highest-latency"] == 50


def test_prefix_alias_wins_over_defaulted_shortcut():
    s = build_session_settings(
        cfg({"datastax-java-driver.basic.request.timeout": "10"})
    )
    assert s["basic.request.timeout"] == 10


def test_query_timeout_reaches_the_execution_profile():
    # W11: queryExecutionTimeout drives the default profile's request
    # timeout on the constructed cluster.
    _, kwargs, log = build(cfg({"queryExecutionTimeout": "12"}))
    profiles = kwargs["execution_profiles"]
    assert set(profiles) == {"EXEC_PROFILE_DEFAULT"}
    assert profiles["EXEC_PROFILE_DEFAULT"].kwargs["request_timeout"] == 12


def test_consistency_passthrough_reaches_the_profile():
    _, kwargs, _ = build(
        cfg({"datastax-java-driver.basic.request.consistency": "ALL"})
    )
    prof = kwargs["execution_profiles"]["EXEC_PROFILE_DEFAULT"]
    assert prof.kwargs["consistency_level"] == "ALL"


# ---------------------------------------------------------------------------
# Compression (W10)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "compression,expected",
    [("None", False), ("LZ4", "lz4"), ("Snappy", "snappy")],
)
def test_compression_mapping(compression, expected):
    _, kwargs, _ = build(cfg({"compression": compression}))
    assert kwargs["compression"] == expected


# ---------------------------------------------------------------------------
# Startup identification (LifeCycleManagerIT.java:263-291)
# ---------------------------------------------------------------------------


def test_application_name_version_and_client_id():
    s = build_session_settings(cfg(), version="v1")
    app = s["application"]
    assert app["name"] == APPLICATION_NAME == "DataStax Apache Kafka Connector"
    assert app["version"] == "v1"
    assert app["client_id"]  # non-null, fresh per build
    assert app["client_id"] != build_session_settings(cfg())["application"]["client_id"]


# ---------------------------------------------------------------------------
# Auth (PlaintextAuthCCMIT.java:80-121)
# ---------------------------------------------------------------------------


def test_plain_auth_builds_plaintext_provider():
    _, kwargs, _ = build(
        cfg(
            {
                "auth.provider": "PLAIN",
                "auth.username": "cassandra",
                "auth.password": "cassandra",
            }
        )
    )
    ap = kwargs["auth_provider"]
    assert ap.name == "PlainTextAuthProvider"
    assert ap.kwargs == {"username": "cassandra", "password": "cassandra"}


def test_credentials_without_provider_infer_plain():
    # PlaintextAuthCCMIT.java:95-99: "should infer auth.provider to PLAIN".
    c = cfg({"auth.username": "cassandra", "auth.password": "cassandra"})
    assert c.auth_provider == "PLAIN"
    _, kwargs, _ = build(c)
    assert kwargs["auth_provider"].name == "PlainTextAuthProvider"


def test_credentials_with_none_provider_infer_plain():
    c = cfg(
        {
            "auth.provider": "None",
            "auth.username": "u",
            "auth.password": "p",
        }
    )
    assert c.auth_provider == "PLAIN"


def test_plain_without_credentials_rejected():
    with pytest.raises(ConfigError, match="auth.username and auth.password"):
        cfg({"auth.provider": "PLAIN"})


def test_unknown_auth_provider_rejected():
    with pytest.raises(ConfigError, match="auth.provider"):
        cfg({"auth.provider": "LDAP"})


def test_no_auth_no_provider_kwarg():
    _, kwargs, _ = build(cfg())
    assert "auth_provider" not in kwargs


def test_gssapi_builds_kerberos_provider():
    _, kwargs, _ = build(
        cfg(
            {
                "auth.provider": "GSSAPI",
                "auth.gssapi.service": "dse",
                "auth.gssapi.principal": "user@DATASTAX.COM",
                "auth.gssapi.keyTab": "/tmp/user.keytab",
            }
        )
    )
    ap = kwargs["auth_provider"]
    assert ap.name == "KerberosAuthProvider"
    assert ap.kwargs == {
        "service": "dse",
        "principal": "user@DATASTAX.COM",
        "keytab": "/tmp/user.keytab",
    }


def test_gssapi_service_defaults_to_dse():
    assert cfg({"auth.provider": "GSSAPI"}).auth_gssapi_service == "dse"


# ---------------------------------------------------------------------------
# SSL surface (sample:91-116)
# ---------------------------------------------------------------------------


def test_ssl_settings_parse_into_the_ssl_section():
    s = build_session_settings(
        cfg(
            {
                "ssl.provider": "JDK",
                "ssl.cipherSuites": "TLS_A, TLS_B",
                "ssl.keystore.path": "/tmp/ks",
                "ssl.keystore.password": "kpw",
                "ssl.truststore.path": "/tmp/ts",
                "ssl.truststore.password": "tpw",
            }
        )
    )
    ssl = s["ssl"]
    assert ssl["provider"] == "JDK"
    assert ssl["cipher_suites"] == ["TLS_A", "TLS_B"]
    assert ssl["keystore_path"] == "/tmp/ks"
    assert ssl["truststore_path"] == "/tmp/ts"


def test_unknown_ssl_provider_rejected():
    with pytest.raises(ConfigError, match="ssl.provider"):
        cfg({"ssl.provider": "GnuTLS"})


@pytest.mark.parametrize("provider", ["JDK", "OpenSSL"])
def test_ssl_provider_refused_rather_than_connecting_in_plaintext(provider):
    """The factory passes no SSL context to ``Cluster``, so asking for TLS
    must fail when the factory is built, before any connection is made."""
    log = []
    with pytest.raises(ConfigError, match="ssl.provider"):
        cassandra_session_factory(cfg({"ssl.provider": provider}), driver=fake_driver(log))
    assert log == []


# ---------------------------------------------------------------------------
# Cloud mode (CloudSniEndToEndIT.java:92-168)
# ---------------------------------------------------------------------------


def test_cloud_mode_passes_bundle_not_contact_points():
    base = {
        k: v
        for k, v in BASE.items()
        if k not in ("contactPoints", "port", "loadBalancing.localDc")
    }
    base["cloud.secureConnectBundle"] = "/tmp/bundle.zip"
    _, kwargs, _ = build(cfg(base=base))
    assert kwargs["cloud"] == {"secure_connect_bundle": "/tmp/bundle.zip"}
    assert "contact_points" not in kwargs


def test_cloud_mode_rejects_local_dc():
    # sample properties (cassandra-sink-standalone.properties.sample:10-11)
    # forbid loadBalancing.localDc alongside the secure-connect bundle.
    base = {k: v for k, v in BASE.items() if k not in ("contactPoints", "port")}
    base["cloud.secureConnectBundle"] = "/tmp/bundle.zip"
    with pytest.raises(ConfigError, match="loadBalancing.localDc"):
        cfg(base=base)


def test_cloud_mode_never_passes_load_balancing_policy():
    # SNI routing from the bundle owns endpoint selection; a
    # load_balancing_policy kwarg alongside the cloud kwarg would conflict
    # (sample properties forbid loadBalancing.localDc with the bundle).
    # Exercised with a hand-built config carrying local_dc, since
    # parse_sink_config rejects the combination outright.
    base = {
        k: v
        for k, v in BASE.items()
        if k not in ("contactPoints", "port", "loadBalancing.localDc")
    }
    base["cloud.secureConnectBundle"] = "/tmp/bundle.zip"
    config = cfg(base=base)
    object.__setattr__(config, "local_dc", "dc-forced") if hasattr(
        type(config), "__slots__"
    ) else setattr(config, "local_dc", "dc-forced")
    _, kwargs, log = build(config)
    assert "load_balancing_policy" not in kwargs
    assert not [n for n, _ in log if n in ("TokenAwarePolicy", "DCAwareRoundRobinPolicy")]


# ---------------------------------------------------------------------------
# Duration-string passthrough values (java-driver HOCON duration syntax)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "raw,expect",
    [
        ("30 seconds", 30),
        ("1 minutes", 60),
        ("2m", 120),
        ("500 ms", 1),  # sub-second rounds up to 1s (whole-second consumer)
        ("1 hour", 3600),
        ("45", 45),
    ],
)
def test_passthrough_timeout_accepts_duration_strings(raw, expect):
    s = build_session_settings(
        cfg({"datastax-java-driver.basic.request.timeout": raw})
    )
    assert s["basic.request.timeout"] == expect
    # downstream consumer stays consistent: highest latency = timeout + 5
    assert s["advanced.metrics.node.cql-messages.highest-latency"] == expect + 5


def test_passthrough_timeout_garbage_is_a_config_error():
    with pytest.raises(ConfigError, match="basic.request.timeout"):
        build_session_settings(
            cfg({"datastax-java-driver.basic.request.timeout": "soonish"})
        )


# ---------------------------------------------------------------------------
# GSSAPI on the production transport (optional-package surface)
# ---------------------------------------------------------------------------


def test_real_driver_gssapi_raises_clear_config_error_when_sasl_missing():
    # The container has no cassandra-driver/pure-sasl, so the production
    # KerberosAuthProvider surface must fail with a ConfigError naming the
    # optional package — not an AttributeError on the namespace.
    from kafka_sink_spark.operators.cassandra_writer import (
        _kerberos_auth_provider,
    )

    pytest.importorskip
    try:
        import cassandra.auth  # noqa: F401

        have_driver = hasattr(cassandra.auth, "DSEGSSAPIAuthProvider")
    except ImportError:
        have_driver = False
    if have_driver:
        provider = _kerberos_auth_provider()
        assert callable(provider)
    else:
        with pytest.raises(ConfigError, match="GSSAPI.*pure|pure.*GSSAPI"):
            _kerberos_auth_provider()
