"""The catalog pass of the traced keyed-drain run: one pass of catalog
queries in a fresh Spark session, each forced by a ``noop`` write (as
``bench.py`` forces them), then an oracle check of every query outside the
timed region.

The pass runs the benchable ``sink_*`` parity queries, which share the
decode, mapping, codec and ``operators.writes`` layers with the sink, and
the two retrieval queries that share the BM25 substrate. In a fresh
session the substrate is built by its first consumer inside the timed
pass; the later consumer hits the memo. (The IVF-PQ and indexed-hybrid
members of the retrieval family are left out: on 4 cores their cold
IVF-PQ builds take 12-20 s.)
"""

from __future__ import annotations

import math
import time
from concurrent.futures import ThreadPoolExecutor

# Pure-Python Avro fallbacks that bench.py leaves out as well.
EXCLUDED = ("sink_avro_struct_decode", "sink_avro_union_decode")

# Shared-substrate retrieval queries, first consumer first.
FAMILY = ("docs_bm25_topk", "docs_hybrid_rrf")

TABLES = ("events", "documents", "embeddings")


def query_names() -> list[str]:
    from kafka_sink_spark.plans import QUERIES

    sink = [q for q in QUERIES if q.startswith("sink_") and q not in EXCLUDED]
    return sink + list(FAMILY)


def substrate_entries() -> dict[str, int]:
    from kafka_sink_spark import substrates

    return {k: v for k, v in substrates.sizes().items() if v}


def run_pass(spark, sf_dir: str, names: list[str], tracer) -> dict:
    """Build and force every query once. Per query: ``build_s`` (the
    builder call: plan construction plus any substrate it builds on the
    driver), ``exec_s`` (the noop write) and, when traced, the substrate
    caches that grew during it."""
    from kafka_sink_spark.plans import QUERIES

    out = {}
    t_pass = time.time()
    for name in names:
        if tracer.enabled:
            t_in = time.time()
            before = substrate_entries()
            tracer.overhead_s += time.time() - t_in
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        out[name] = {"build_s": t1 - t0, "exec_s": t2 - t1, "done": t2 - t_pass}
        if tracer.enabled:
            after = substrate_entries()
            grew = sorted(k for k, v in after.items() if v > before.get(k, 0))
            out[name]["substrates_built"] = grew
            parent = tracer.add("query", t0, t2, name)
            tracer.add("build", t0, t1, name, parent)
            tracer.add("execute", t1, t2, name, parent)
            tracer.overhead_s += time.time() - t2
    return out


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "\0NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def collect_all(spark, sf_dir: str, names: list[str], threads: int = 4) -> dict:
    """Every query's (columns, rows), collected on ``threads`` threads."""
    from kafka_sink_spark.plans import QUERIES

    def rows(name):
        df = QUERIES[name](spark, sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    with ThreadPoolExecutor(threads) as pool:
        return dict(zip(names, pool.map(rows, names)))


def check(sf_dir: str, results: dict) -> dict:
    """Each query's collected result against its DuckDB ``ORACLES`` twin
    (column names, row count, order-insensitive values); a query without a
    twin must return columns. Returns {name: (ok, n_rows)}."""
    import duckdb

    from kafka_sink_spark.plans import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, (cols, rows) in results.items():
            if name not in ORACLES:
                out[name] = (len(cols) > 0, len(rows))
                continue
            res = con.execute(ORACLES[name])
            dcols = [d[0] for d in res.description]
            ok = sorted(cols) == sorted(dcols) and _norm(rows, cols) == _norm(res.fetchall(), dcols)
            out[name] = (ok, len(rows))
        return out
    finally:
        con.close()
