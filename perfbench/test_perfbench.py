"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark.operators.cassandra_writer import UNSET  # noqa: E402

from perfbench import stage  # noqa: E402
from perfbench.common import TreeSampler, summarize, tail_rank  # noqa: E402
from perfbench.fakecass import DIGEST_MOD, FakeSession, statement_hash  # noqa: E402
from perfbench.sink import FANOUT_TTL_S, drain_spec, fake_session_maps, fanout_spec, oracle  # noqa: E402


# ------------------------------------------------------------ percentiles


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    s = summarize(list(reversed(xs)))
    assert s["n"] == 100
    assert s["median"] == 50.5
    assert s["tail"] == 90.0  # exactly ten samples (91..100) lie beyond it
    assert sum(x > s["tail"] for x in xs) == 10
    assert s["tail_pct"] == 89.9


def test_tail_rank_edges():
    assert tail_rank(10) is None
    assert tail_rank(11) == 0
    assert tail_rank(21) == 10


def test_tail_falls_back_to_max_below_median():
    s = summarize([3.0, 1.0, 2.0, 5.0, 4.0])
    assert (s["median"], s["tail"], s["tail_pct"]) == (3.0, 5.0, None)
    s = summarize([float(i) for i in range(21)])  # rank 10 is the median
    assert (s["tail"], s["tail_pct"]) == (10.0, 50.0)
    assert summarize([])["n"] == 0


def test_tree_sampler_interpolates_cpu_in_windows():
    tree = TreeSampler()
    # (time, cpu s, jit cpu s, MiB): 2 CPU-s per second, 0.5 of it JIT
    tree.samples = [(t, 2.0 * t, 0.5 * t, 100.0 + t) for t in (0.0, 1.0, 2.0, 3.0)]
    assert tree.cpu_within(0.5, 2.25) == 3.5
    assert tree.jit_within(0.5, 2.25) == 0.875
    assert tree.cpu_within(-1.0, 9.0) == 6.0  # clamped to the first/last sample
    assert tree.rss_median(0.5, 3.0) == 102.0
    assert tree.rss_peak() == 103.0


# ------------------------------------------------------- oracle digest


class _Acc:
    """Stand-in for a Spark accumulator of DictSum."""

    def __init__(self):
        self.value: dict = {}

    def add(self, d):
        for k, v in d.items():
            self.value[k] = self.value.get(k, 0) + v


TS_MS = 1_700_000_000_123


def _write_fanout(path: str) -> str:
    """Four hand-made records: a good event, a tombstone, a malformed value
    and one on the unconfigured topic."""
    headers = [[{"key": "source", "value": b"src3"}]] * 4
    tbl = pa.table(
        {
            "topic": ["clicks", "clicks", "clicks", "audit"],
            "partition": pa.array([0, 0, 0, 0], pa.int32()),
            "offset": pa.array([1, 2, 3, 4], pa.int64()),
            "timestamp": pa.array([TS_MS * 1000] * 4, pa.timestamp("us", tz="UTC")),
            "key": [b"11", b"12", b"13", b"14"],
            "value": [
                b'{"user_id": 7, "event_type": "click", "amount": 2.5, "k": 9}',
                None,
                b'{"user_id": 8, "ev',
                b'{"user_id": 9}',
            ],
            "headers": pa.array(headers, stage.KAFKA_SCHEMA.field("headers").type),
        },
        schema=stage.KAFKA_SCHEMA,
    )
    pq.write_table(tbl, path)
    return path


# The statements the four records above must produce, checked by hand.
WT = TS_MS * 1000
EXPECTED = [
    ("ks.clicks_ttl", "insert_ttl",  # INSERT + TTL
     {"event_id": 11, "user_id": 7, "event_type": "click", "amount": 2.5,
      "message_internal_timestamp": WT, "message_internal_ttl": FANOUT_TTL_S}),
    ("ks.clicks_by_source", "insert",  # INSERT
     {"event_id": 11, "source": "src3", "user_id": 7, "k": 9,
      "message_internal_timestamp": WT}),
    ("ks.clicks_ttl", "delete", {"event_id": 12}),  # DELETE (tombstone)
    ("ks.clicks_by_source", "insert",  # INSERT binding UNSET
     {"event_id": 12, "source": "src3", "user_id": UNSET, "k": UNSET,
      "message_internal_timestamp": WT}),
]


def test_oracle_on_hand_checked_input(tmp_path):
    f = _write_fanout(str(tmp_path / "f.parquet"))
    exp = oracle([f], "fanout", 2)
    assert exp["records"] == 4
    assert exp["unknown"] == 1
    assert exp["dead_letters"] == 2  # the malformed record, once per table
    assert exp["statements"] == 4
    assert exp["kind:ks.clicks_ttl:insert_ttl"] == 1
    assert exp["kind:ks.clicks_ttl:delete"] == 1
    assert exp["kind:ks.clicks_by_source:insert"] == 2
    want = sum(statement_hash(t, k, p) for t, k, p in EXPECTED) % DIGEST_MOD
    assert exp["digest"] == want


def test_fake_session_digest_matches_oracle_digest():
    """The fake session folds the same statements into the same digest, in
    any order, and counts singles/frames/prepares."""
    texts, tables = fake_session_maps(fanout_spec())
    by_kind = {v: k for k, v in texts.items()}
    acc = _Acc()
    session = FakeSession(acc, texts, tables, 32)
    prepared = {key: session.prepare(cql) for cql, key in texts.items()}
    for p in prepared.values():
        p.consistency_level = "LOCAL_ONE"
    for t, k, params in reversed(EXPECTED):
        assert (t, k) in by_kind
        session.execute_async(prepared[(t, k)], params)
    v = acc.value
    assert v["invalid"] == 0
    assert v["singles"] == v["statements"] == 4
    assert v["sessions"] == 1 and v["prepares"] == len(texts)
    assert v["digest"] % DIGEST_MOD == sum(
        statement_hash(t, k, p) for t, k, p in EXPECTED
    ) % DIGEST_MOD


def test_unset_and_null_differ():
    p = {"event_id": 1, "k": UNSET}
    assert statement_hash("t", "insert", p) != statement_hash("t", "insert", {**p, "k": None})


def test_fake_session_flags_bad_frames():
    texts, tables = fake_session_maps(drain_spec())
    acc = _Acc()
    session = FakeSession(acc, texts, tables, 32)
    ins = session.prepare(next(c for c, (_, k) in texts.items() if k == "insert"))
    ins.consistency_level = "LOCAL_ONE"
    row = {"user_id": 1, "event_id": 1, "event_type": "x", "amount": 1.0, "k": 1,
           "message_internal_timestamp": 5}
    session.execute_batch([(ins, row), (ins, {**row, "event_id": 2})], "LOCAL_ONE")
    assert acc.value["invalid"] == 0
    session.execute_batch([(ins, row), (ins, {**row, "user_id": 2})], "LOCAL_ONE")
    assert acc.value["invalid"] == 1  # two partition keys in one BATCH
    session.execute_async(ins, {**row, "user_id": None})
    assert acc.value["invalid"] == 2  # null primary-key value
    session.prepare("SELECT 1")
    assert acc.value["invalid"] == 3  # CQL the writer should never send


# ------------------------------------------------------------- seeding


@pytest.mark.parametrize("kind", ["drain", "fanout"])
def test_seed_changes_inputs_not_outcome_shape(tmp_path, kind):
    def make(seed):
        d = str(tmp_path / f"{kind}-{seed}")
        if kind == "drain":
            files = stage.drain_files(d, seed, 2, 2_000, 50)
        else:
            files = stage.fanout_files(d, seed, 2, 2_000)
        return files, oracle(files, kind, 1 if kind == "drain" else 2)

    (fa, ea), (fb, eb) = make(1), make(2)
    assert pq.read_table(fa[0]).to_pylist() != pq.read_table(fb[0]).to_pylist()
    assert ea["digest"] != eb["digest"]
    assert set(ea) == set(eb)
    assert ea["records"] == eb["records"] == 4_000
    for key in ea:
        if key not in ("digest", "records") and ea[key]:
            assert abs(ea[key] - eb[key]) <= 0.15 * ea[key] + 40, key
    # the same seed reproduces the same inputs
    again = stage.drain_files(str(tmp_path / "again"), 1, 2, 2_000, 50) if kind == "drain" \
        else stage.fanout_files(str(tmp_path / "again"), 1, 2, 2_000)
    assert pq.read_table(again[1]).to_pylist() == pq.read_table(fa[1]).to_pylist()
