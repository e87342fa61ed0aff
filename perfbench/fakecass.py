"""In-process fake Cassandra session that checks every statement it is
sent, and the order-independent statement digest the oracle is compared
against.

The writer (``operators.cassandra_writer.write_routed``) calls the session
factory once per partition on the executor, then ``prepare`` once per
statement kind and ``execute_async`` / ``execute_batch`` per frame. Every
call is folded into one Spark accumulator (a dict of integer counters), so
the Spark driver reads exact totals after each write job:

- ``sessions``, ``prepares``, ``frames`` (BATCH), ``singles`` (EXECUTE),
  ``statements``, ``batched_statements``;
- ``kind:<table>:<kind>`` statement counts;
- ``digest``: the sum of a 128-bit hash of every statement's
  (table, template kind, canonical bound params), so the multiset of
  statements is compared without collecting it;
- ``invalid``: statements or frames that broke a check (unknown CQL text,
  wrong bind names, missing key values, mixed partition keys in a batch,
  frame size, consistency level).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.accumulators import AccumulatorParam

from kafka_sink_spark.operators.cassandra_writer import UNSET

DIGEST_MOD = 1 << 128


class _FutureDone:
    __slots__ = ()

    def result(self):
        return None


_DONE = _FutureDone()


def canon(v) -> str:
    """Canonical text of one bound value. UNSET and null differ."""
    if v is None:
        return "N"
    if v is UNSET:
        return "U"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return f"f{v!r}"
    if isinstance(v, str):
        return f"s{v}"
    if isinstance(v, (bytes, bytearray)):
        return f"x{bytes(v).hex()}"
    return f"o{v!r}"


def statement_hash(table: str, kind: str, params: dict) -> int:
    text = table + "|" + kind + "|" + ";".join(
        f"{k}={canon(params[k])}" for k in sorted(params)
    )
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=16).digest(), "big")


class DictSum(AccumulatorParam):
    """Accumulator over {name: int} dicts, merged by key-wise addition."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


_BIND = re.compile(r":(\w+)")


class Prepared:
    """What ``prepare`` returns: the statement's table and kind and the bind
    names parsed from its CQL text. The writer sets ``consistency_level``."""

    __slots__ = ("table", "kind", "binds", "consistency_level")

    def __init__(self, cql: str, table: str, kind: str):
        self.table = table
        self.kind = kind
        self.binds = frozenset(_BIND.findall(cql))
        self.consistency_level = None


class FakeSession:
    """cassandra-driver Session stand-in. ``texts`` maps every CQL text the
    writer may prepare to ``(table, kind)``; ``tables`` maps a table to
    ``(partition_key_columns, primary_key_columns, consistency_level)``.
    Each call adds its counts to the accumulator at once, so nothing is
    lost whichever way the task ends."""

    def __init__(self, acc, texts: dict, tables: dict, max_batch: int):
        self.acc = acc
        self.texts = texts
        self.tables = tables
        self.max_batch = max_batch
        acc.add({"sessions": 1})

    def prepare(self, cql: str) -> Prepared:
        table, kind = self.texts.get(cql, ("?", "?"))
        self.acc.add({"prepares": 1, "invalid": int(table == "?")})
        return Prepared(cql, table, kind)

    def _check(self, stmt: Prepared, params: dict, cl, counts: dict) -> None:
        """Fold one statement into ``counts``: kind count, digest, checks."""
        spec = self.tables.get(stmt.table)
        bad = (
            spec is None
            or cl != spec[2]
            or set(params) != stmt.binds
            or any(canon(params.get(c)) in ("N", "U") for c in spec[1])
        )
        key = f"kind:{stmt.table}:{stmt.kind}"
        counts[key] = counts.get(key, 0) + 1
        counts["invalid"] = counts.get("invalid", 0) + int(bad)
        counts["digest"] = counts.get("digest", 0) + statement_hash(
            stmt.table, stmt.kind, params
        )

    def execute_async(self, stmt: Prepared, params=None):
        counts = {"singles": 1, "statements": 1}
        self._check(stmt, params or {}, stmt.consistency_level, counts)
        self.acc.add(counts)
        return _DONE

    def execute_batch(self, stmts: list, consistency_level=None):
        counts = {"frames": 1, "statements": len(stmts), "batched_statements": len(stmts)}
        tables = {s.table for s, _ in stmts}
        pk = self.tables.get(next(iter(tables)), ((), (), None))[0]
        mixed_keys = len({tuple(canon(p.get(c)) for c in pk) for _, p in stmts}) != 1
        counts["invalid"] = int(
            not (2 <= len(stmts) <= self.max_batch) or len(tables) != 1 or mixed_keys
        )
        for s, p in stmts:
            self._check(s, p, consistency_level, counts)
        self.acc.add(counts)
        return _DONE


def session_factory(acc, texts: dict, tables: dict, max_batch: int):
    """A ``session_factory`` for ``write_routed``."""

    def factory():
        return FakeSession(acc, texts, tables, max_batch)

    return factory
