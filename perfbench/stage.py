"""Seeded input stager: every input the benchmark feeds the sink is made
here from ``--seed`` alone, written as parquet into the run's work
directory, and handed to the program only as files.

Three kinds of input:

- raw Kafka-schema record files (``key``/``value`` BINARY, a ``headers``
  array of key/BINARY-value structs, topic/partition/offset/timestamp) for
  the two sink workloads;
- the catalog tables (``events``, ``documents``, ``embeddings``) in the
  column layout ``kafka_sink_spark.session.load_tables`` reads.

The events generator follows the shape of the engine's ``events`` test
table (sequential ``event_id``, millisecond timestamps rising over a
month, 1500 users, five event types, ``props`` = ``{"k": 0..99}``); larger
volumes are replicas of one generated block with ``event_id``/``offset``
shifted per replica (the ``tools/gen_sf1.py`` idea) and a seed-chosen key
permutation per replica.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
N_USERS = 1500
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
MONTH_MS = 30 * 86_400_000

KAFKA_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("key", pa.binary()),
        ("value", pa.binary()),
        (
            "headers",
            pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])),
        ),
    ]
)

# Spark DDL of the same layout, for ``readStream.schema(...)``.
KAFKA_DDL = (
    "topic string, partition int, offset long, timestamp timestamp, "
    "key binary, value binary, headers array<struct<key:string,value:binary>>"
)

UNKNOWN_TOPIC = "audit"
DRAIN_TOPIC = "events"
FANOUT_TOPIC = "clicks"


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts the draws of another."""
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


@dataclass
class EventBlock:
    """One generated block of ``events`` rows (column arrays)."""

    event_id: np.ndarray
    ts_ms: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray
    amount: np.ndarray
    k: np.ndarray

    def __len__(self) -> int:
        return len(self.event_id)


def event_block(rng: np.random.Generator, n: int) -> EventBlock:
    return EventBlock(
        event_id=np.arange(n, dtype=np.int64),
        ts_ms=T0_MS + np.sort(rng.integers(0, MONTH_MS, n)),
        user_id=rng.integers(0, N_USERS, n).astype(np.int64),
        event_type=EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        amount=np.round(rng.exponential(60.0, n), 2),
        k=rng.integers(0, 100, n).astype(np.int64),
    )


def replica(block: EventBlock, r: int, perm: np.ndarray) -> EventBlock:
    """Replica ``r`` of ``block``: ids and times shifted past the previous
    replicas, users relabelled through ``perm`` (a key permutation)."""
    n = len(block)
    return EventBlock(
        event_id=block.event_id + r * n,
        ts_ms=block.ts_ms + r * MONTH_MS,
        user_id=perm[block.user_id],
        event_type=block.event_type,
        amount=block.amount,
        k=block.k,
    )


def _binary(strings) -> pa.Array:
    if isinstance(strings, pa.Array):
        return strings.cast(pa.binary())
    return pa.array([s.encode() if s is not None else None for s in strings], pa.binary())


def _kafka_table(topic, ev: EventBlock, keys, values, headers) -> pa.Table:
    """Kafka source rows; ``headers`` None means no headers on any record."""
    n = len(ev)
    htype = KAFKA_SCHEMA.field("headers").type
    return pa.table(
        {
            "topic": pa.array(topic if isinstance(topic, list) else [topic] * n, pa.string()),
            "partition": pa.array((ev.event_id % 4).astype(np.int32)),
            "offset": pa.array(ev.event_id),
            "timestamp": pa.array(ev.ts_ms * 1000, pa.timestamp("us", tz="UTC")),
            "key": _binary(keys),
            "value": _binary(values),
            "headers": pa.nulls(n, htype) if headers is None else pa.array(headers, htype),
        },
        schema=KAFKA_SCHEMA,
    )


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


def _json_values(fields: list[tuple[str, pa.Array]]) -> pa.Array:
    """JSON object text per row from (name, column) pairs, built with Arrow
    string kernels. Strings are quoted as-is (the generator emits none that
    need escaping); numbers use Arrow's shortest round-trip text."""
    parts: list = []
    for i, (name, col) in enumerate(fields):
        lead = "{" if i == 0 else ", "
        if pa.types.is_string(col.type):
            parts += [f'{lead}"{name}": "', col, '"']
        else:
            parts += [f'{lead}"{name}": ', pc.cast(col, pa.string())]
    parts.append("}")
    n = len(fields[0][1])
    cols = [p if isinstance(p, pa.Array) else pa.array([p] * n) for p in parts]
    return pc.binary_join_element_wise(*cols, "")


def drain_files(out_dir: str, seed: int, n_files: int, per_file: int,
                users_per_file: int) -> list[str]:
    """Keyed-drain backlog: ``n_files`` files of ``per_file`` JSON records
    for topic ``events``, keyed by ``user_id``.

    Each file is a replica of one generated block; its users are a
    seed-chosen subset of ``users_per_file`` keys, so every key carries
    about ``per_file / users_per_file`` records per file and the writer
    sees long same-partition-key runs.
    """
    rng = rng_for(seed, 1)
    base = event_block(rng, per_file)
    base.user_id = base.user_id % users_per_file
    event_type, amount, k = pa.array(base.event_type), pa.array(base.amount), pa.array(base.k)
    paths = []
    for r in range(n_files):
        ev = replica(base, r, rng.permutation(N_USERS)[:users_per_file])
        values = _json_values(
            [("event_id", pa.array(ev.event_id)), ("event_type", event_type),
             ("amount", amount), ("k", k)]
        )
        keys = pc.cast(pa.array(ev.user_id), pa.string())
        tbl = _kafka_table(DRAIN_TOPIC, ev, keys, values, None)
        paths.append(_write(tbl, os.path.join(out_dir, f"drain-{r:05d}.parquet")))
    return paths


# Shares of fan-out records that take the non-happy paths.
UNKNOWN_SHARE = 0.05
MALFORMED_SHARE = 0.05


def fanout_files(out_dir: str, seed: int, n_files: int, per_file: int) -> list[str]:
    """Paced fan-out inputs: ``n_files`` files for topic ``clicks`` keyed
    by ``event_id``.

    The seed picks which records go to the unconfigured topic
    (~``UNKNOWN_SHARE``) and which carry malformed JSON
    (~``MALFORMED_SHARE``); ``error`` events carry a null payload
    (a tombstone). Every record carries ``source`` and ``trace`` headers.
    """
    rng = rng_for(seed, 2)
    base = event_block(rng, per_file)
    paths = []
    for r in range(n_files):
        ev = replica(base, r, rng.permutation(N_USERS))
        u = rng.random(len(ev))
        unknown = u < UNKNOWN_SHARE
        malformed = (u >= UNKNOWN_SHARE) & (u < UNKNOWN_SHARE + MALFORMED_SHARE)
        cut = rng.integers(3, 20, len(ev))
        src = rng.integers(0, 20, len(ev))
        values, headers = [], []
        for i in range(len(ev)):
            if ev.event_type[i] == "error":
                v = None
            else:
                v = json.dumps(
                    {
                        "user_id": int(ev.user_id[i]),
                        "event_type": str(ev.event_type[i]),
                        "amount": float(ev.amount[i]),
                        "k": int(ev.k[i]),
                    }
                )
                if malformed[i]:
                    v = v[: int(cut[i])]  # truncated mid-object: never valid JSON
            values.append(v)
            headers.append(
                [
                    {"key": "source", "value": f"src{src[i]}".encode()},
                    {"key": "trace", "value": f"{int(ev.event_id[i]):x}".encode()},
                ]
            )
        topics = [UNKNOWN_TOPIC if x else FANOUT_TOPIC for x in unknown]
        tbl = _kafka_table(topics, ev, [str(e) for e in ev.event_id], values, headers)
        paths.append(_write(tbl, os.path.join(out_dir, f"fanout-{r:05d}.parquet")))
    return paths


WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def catalog_tables(out_dir: str, seed: int, n_events: int, n_docs: int,
                   n_vecs: int, dim: int = 64) -> str:
    """The three tables the catalog pass's queries read, as
    ``<out_dir>/<name>.parquet``. Returns ``out_dir``."""
    rng = rng_for(seed, 3)
    ev = event_block(rng, n_events)
    _write(
        pa.table(
            {
                "event_id": ev.event_id,
                "ts": pa.array(ev.ts_ms * 1000, pa.timestamp("us")),
                "user_id": ev.user_id,
                "event_type": ev.event_type.tolist(),
                "value": ev.amount,
                "props": [f'{{"k": {int(k)}}}' for k in ev.k],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )

    n_words = rng.integers(8, 90, n_docs)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in n_words]
    _write(
        pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)].tolist(),
                "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centroids = rng.normal(0.0, 0.12, (10, dim))
    vecs = (centroids[labels] + rng.normal(0.0, 0.08, (n_vecs, dim))).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": np.arange(n_vecs, dtype=np.int64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": labels,
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return out_dir
