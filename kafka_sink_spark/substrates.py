"""Session-scoped memo for the catalog's shared substrates.

A substrate is a materialized intermediate — a persisted or checkpointed
DataFrame, or a tuple/list of them — that several queries of one session
read: the BM25 scored table, the IVF-PQ index, the co-purchase edges, the
connected-components labels.  Handing every consumer the frames the first
one built means a composed run pays one corpus pass per substrate, not one
per consumer.

``@memo`` on the builder is the whole mechanism.  The key is the builder
plus its bound arguments, defaults applied (so positional and keyword calls
share one entry):

- a ``SparkSession`` stands for its ``applicationId``;
- a ``DataFrame`` stands for its session's ``applicationId`` plus the
  semantic hash of its analyzed plan;
- any other argument stands for itself.

Module constants a builder reads are covered by the builder's identity.
Keys carry the ``applicationId``, so nothing crosses Spark sessions.

The memo adds no persistence policy: each builder body chooses
``.persist`` or ``.localCheckpoint`` and says why.  What it adds is
teardown and provenance:

- ``clear_all()`` drops every entry, unpersists the memoized frames,
  releases the RDDs a build left persistent (the blocks behind a
  ``localCheckpoint``) and clears the active session's cache, so
  ``SPARK_GRAFT_BENCH_COLD=1`` reps re-pay every build — inline
  ``.persist`` calls in query builders included;
- ``sizes()`` counts entries per builder (``module.builder``), so a bench
  run can publish which substrates it materialized;
- ``report()`` adds builds, their summed seconds (the builder's own wall
  time: a lazy ``.persist`` is paid by its first consumer) and hits.

``session._RELATION_CACHE`` (unmaterialized parquet relations) and
``operators.cassandra_writer._BUNDLE_CACHE`` (a bundle path) hold nothing
executor-side and stay plain dicts.
"""

from __future__ import annotations

import functools
import inspect
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

# builder name -> {key: (value, SparkContext, ids of RDDs the build left
# persistent, build seconds)}
_MEMOS: dict[str, dict[tuple, tuple]] = {}
_HITS: Counter = Counter()  # builder name -> hits since the last clear_all()


def _persistent_rdd_ids(sc) -> set:
    if sc is None or sc._jsc is None:  # no context, or it was stopped
        return set()
    return set(sc._jsc.getPersistentRDDs().keySet())


def memo(build):
    """Memoize a substrate builder per (builder, bound arguments) — see the
    module docstring for how arguments become the key."""
    sig = inspect.signature(build)
    name = f"{build.__module__.rsplit('.', 1)[-1]}.{build.__qualname__}"
    entries = _MEMOS.setdefault(name, {})

    @functools.wraps(build)
    def memoized(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        key, sc = [], None
        for arg in bound.arguments.values():
            if isinstance(arg, SparkSession):
                sc = arg.sparkContext
                key.append(sc.applicationId)
            elif isinstance(arg, DataFrame):
                sc = arg.sparkSession.sparkContext
                key.append(
                    (
                        sc.applicationId,
                        arg._jdf.queryExecution().analyzed().semanticHash(),
                    )
                )
            else:
                key.append(arg)
        key = tuple(key)
        if key in entries:
            _HITS[name] += 1
            return entries[key][0]
        before = _persistent_rdd_ids(sc)
        t0 = time.perf_counter()
        value = build(*args, **kwargs)
        build_s = time.perf_counter() - t0
        entries[key] = (value, sc, _persistent_rdd_ids(sc) - before, build_s)
        return value

    return memoized


def _unpersist(value) -> None:
    """Unpersist a memoized value: a DataFrame, or a tuple/list of them."""
    if isinstance(value, (tuple, list)):
        for v in value:
            _unpersist(v)
        return
    unpersist = getattr(value, "unpersist", None)
    if callable(unpersist):
        try:
            unpersist(False)
        except Exception:
            pass  # session already stopped


def _release_rdds(sc, rdd_ids: set) -> None:
    """Unpersist the RDDs a build left persistent that are still persistent
    — checkpointed frames have no cached plan for ``_unpersist`` to drop."""
    if not rdd_ids or sc is None or sc._jsc is None:
        return
    persistent = sc._jsc.getPersistentRDDs()
    for rdd_id in rdd_ids:
        rdd = persistent.get(rdd_id)
        if rdd is not None:
            rdd.unpersist(False)


def clear_all() -> int:
    """Drop every memo entry, release what it materialized and clear the
    active session's cache. Returns the number of entries dropped."""
    n = 0
    for entries in _MEMOS.values():
        for value, sc, rdd_ids, _ in entries.values():
            _unpersist(value)
            _release_rdds(sc, rdd_ids)
        n += len(entries)
        entries.clear()
    _HITS.clear()
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.catalog.clearCache()
    return n


def sizes() -> dict[str, int]:
    """Entry count per builder (only non-empty ones) — bench provenance."""
    return {name: len(entries) for name, entries in _MEMOS.items() if entries}


def report() -> dict[str, dict]:
    """Per builder with an entry or a hit since the last ``clear_all()``:
    ``{entries, builds, build_s, hits}`` — bench and profiler provenance."""
    return {
        name: {"entries": len(e), "builds": len(e), "hits": _HITS[name],
               "build_s": sum(entry[3] for entry in e.values())}
        for name, e in _MEMOS.items() if e or _HITS[name]
    }
