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
  run can publish which substrates it materialized.

``session._RELATION_CACHE`` (unmaterialized parquet relations) and
``operators.cassandra_writer._BUNDLE_CACHE`` (a bundle path) hold nothing
executor-side and stay plain dicts.
"""

from __future__ import annotations

import functools
import inspect

from pyspark.sql import DataFrame, SparkSession

# builder name -> {key: (value, SparkContext, ids of RDDs the build left
# persistent)}
_MEMOS: dict[str, dict[tuple, tuple]] = {}


def _persistent_rdd_ids(sc) -> set:
    if sc is None or sc._jsc is None:  # no context, or it was stopped
        return set()
    return set(sc._jsc.getPersistentRDDs().keySet())


def memo(build):
    """Memoize a substrate builder per (builder, bound arguments) — see the
    module docstring for how arguments become the key."""
    sig = inspect.signature(build)
    entries = _MEMOS.setdefault(
        f"{build.__module__.rsplit('.', 1)[-1]}.{build.__qualname__}", {}
    )

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
            return entries[key][0]
        before = _persistent_rdd_ids(sc)
        value = build(*args, **kwargs)
        entries[key] = (value, sc, _persistent_rdd_ids(sc) - before)
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
        for value, sc, rdd_ids in entries.values():
            _unpersist(value)
            _release_rdds(sc, rdd_ids)
        n += len(entries)
        entries.clear()
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.catalog.clearCache()
    return n


def sizes() -> dict[str, int]:
    """Entry count per builder (only non-empty ones) — bench provenance."""
    return {name: len(entries) for name, entries in _MEMOS.items() if entries}
