"""Round-6e wave: frequency mining, document fingerprint selection, RAG
chunking, and an iterative graph ranking — four more training-data-pipeline
operators over the shared tables.

- ``corpus_heavy_hitters``  EXACT phi-heavy-hitters over corpus bigrams via
  the two-phase Misra-Gries pattern: per-partition mergeable MG summaries
  (Arrow-batched ``mapInPandas``, bounded state) produce a guaranteed
  candidate SUPERSET, then one candidate-filtered exact recount yields the
  precise answer — the full n-gram frequency table is never shuffled.
- ``docs_winnowing``  Schleimer et al. 2003 "Winnowing: Local Algorithms
  for Document Fingerprinting" (public): per-window rightmost-minimum
  selection over 4-gram hashes — the classic guarantee-bearing fingerprint
  sampler (MOSS), complementing the fixed-stride and KMV samplers already
  in the catalog.
- ``docs_chunk_overlap``  RAG-style chunking: fixed 64-token chunks with a
  16-token overlap (stride 48), emitted per chunk with an exact content
  hash — the retrieval-corpus preparation twin of ``docs_pack_sequences``
  (which packs WITHOUT overlap for training).
- ``parts_copurchase_pagerank``  3 damped PageRank iterations over the
  undirected parts co-purchase graph (lineitem self-join per order), in
  EXACT integer micro-units: rank/out-degree and the 85% damping are
  truncating integer divisions, bit-identical in Spark and DuckDB — the
  iterative-graph companion to the HashMin connected components inside
  ``dedup_survivors``.

Determinism per the package convention: integers end-to-end; truncating
integer division (`div` / `//`, non-negative operands) everywhere a ratio
appears; 60-/40-bit md5-prefix hashes shared with the rest of the catalog.

Reference anchor: datastax/kafka-sink has no analytics surface (sink/src/main
is record mapping + DSE writes, see SURVEY.md §2); this module extends the
north-star inventory in COVERAGE.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.extensions import text
from kafka_sink_spark.plans.queries import register
from kafka_sink_spark.session import load_tables

# --------------------------------------------------------------------------
# Exact heavy hitters: Misra-Gries candidates + candidate-filtered recount
# --------------------------------------------------------------------------

_HH_K = 1000  # phi = 1/K: report bigrams with count*K > total


def _mg_summaries(batch_iter):
    """Per-partition mergeable Misra-Gries summary over the ``gram`` column.

    Each Arrow batch is reduced C-side (``value_counts``) and merged into the
    running summary; when the summary exceeds K entries it is trimmed by
    subtracting the (K+1)-th largest count (the mergeable-summaries trim of
    Agarwal et al. 2012, public), which preserves the guarantee that every
    gram with partition count > n_part/(K+1) survives.  Since a gram with
    GLOBAL count > n/K must exceed n_part/K ≥ n_part/(K+1) in at least one
    partition (pigeonhole), the union of summaries is a candidate SUPERSET —
    the exact recount below then makes the final answer exact regardless of
    partitioning.  One extra row with a NULL gram carries the partition's
    token total so the recount denominator needs no extra scan.
    """
    import pandas as pd

    counters: dict[str, int] = {}
    total = 0
    for pdf in batch_iter:
        vc = pdf["gram"].value_counts()
        total += int(vc.sum())
        for g, c in vc.items():
            counters[g] = counters.get(g, 0) + int(c)
        if len(counters) > _HH_K:
            sub = sorted(counters.values(), reverse=True)[_HH_K]
            counters = {g: c - sub for g, c in counters.items() if c > sub}
    yield pd.DataFrame(
        {"gram": list(counters) + [None], "cnt": list(counters.values()) + [total]}
    )


_HH_ORACLE = f"""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ), sp AS (
      SELECT CASE WHEN len(t) >= 2
        THEN list_transform(range(len(t) - 1),
                            i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))
        ELSE [array_to_string(t, ' ')] END AS grams
      FROM toks
    ), g AS (
      SELECT s AS gram FROM sp, unnest(grams) AS u(s)
    ), tot AS (
      SELECT COUNT(*) AS n FROM g
    )
    SELECT gram, COUNT(*) AS cnt,
           (COUNT(*) * 1000000) // MAX(tot.n) AS freq_ppm
    FROM g, tot
    GROUP BY gram
    HAVING COUNT(*) * {_HH_K} > MAX(tot.n)
    """


@register("corpus_heavy_hitters", oracle=_HH_ORACLE)
def corpus_heavy_hitters(spark, sf_dir):
    """Exact 1/K-heavy-hitters over corpus bigrams, K=1000.

    Scale shape (the reason this query exists): a naive exact answer is
    ``groupBy(gram)`` over EVERY n-gram — a full-width shuffle of the
    long-tail frequency table (at 100 TB, trillions of rows, almost all of
    which are doomed to fail the HAVING).  Here phase 1 streams each
    partition through a bounded Misra-Gries summary (mapInPandas, ≤K
    counters of state, no shuffle at all) whose union is a PROVEN candidate
    superset of ≤ K×partitions grams; phase 2 recounts ONLY candidates via a
    broadcast semi-join, so the one shuffle that runs carries just the
    candidates' rows.  The output is exactly the true heavy-hitter set —
    the summary's estimation error never surfaces.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    staged = docs.select(text.tokens(F.col("text")).alias("_t"))
    bigr = staged.select(
        F.explode(text.shingles_from_tokens(F.col("_t"), 2)).alias("gram")
    )
    phase1 = bigr.mapInPandas(_mg_summaries, schema="gram string, cnt long").persist()
    cand = phase1.where(F.col("gram").isNotNull()).select("gram").distinct()
    tot = phase1.where(F.col("gram").isNull()).agg(F.sum("cnt").alias("n_total"))
    return (
        bigr.join(F.broadcast(cand), "gram")
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * _HH_K > F.col("n_total"))
        .select(
            "gram",
            "cnt",
            F.expr("cnt * 1000000 div n_total").alias("freq_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003)
# --------------------------------------------------------------------------

_WIN_N = 4  # tokens per gram
_WIN_W = 5  # grams per winnowing window
# 40-bit gram hash + 21-bit position share one 61-bit encoding, so a single
# MIN() implements "minimum hash, rightmost position on ties" (the robust
# winnowing tie rule).  21 bits caps documents at 2M grams — far beyond any
# web document; production would shard longer docs upstream.
_POS_BITS = 21
_POS_CAP = (1 << _POS_BITS) - 1


_WINNOW_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, i AS pos,
             ('0x' || substr(md5(array_to_string(
                 list_slice(t, i + 1, i + {_WIN_N}), ' ')), 1, 10))::BIGINT AS hx
      FROM toks, unnest(range(len(t) - {_WIN_N - 1})) AS u(i)
      WHERE len(t) >= {_WIN_N}
    ), w AS (
      SELECT doc_id, pos,
             MIN(hx * {1 << _POS_BITS} + ({_POS_CAP} - pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW
             ) AS sel
      FROM g
    ), fp AS (
      SELECT doc_id, sel, MAX(pos) AS mp
      FROM w WHERE pos >= {_WIN_W - 1}
      GROUP BY doc_id, sel
    )
    SELECT doc_id, MAX(mp) + 1 AS n_grams,
           COUNT(*) AS n_fingerprints,
           CAST(SUM(sel // {1 << _POS_BITS}) AS BIGINT) AS fp_hash_sum
    FROM fp
    GROUP BY doc_id
    """


@register("docs_winnowing", oracle=_WINNOW_ORACLE)
def docs_winnowing(spark, sf_dir):
    """Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
    algorithm, public): hash every 4-token gram, slide a 5-gram window, and
    select each window's minimum hash — rightmost on ties (robust
    winnowing) — then deduplicate selections.  Guarantees at least one
    fingerprint per window while sampling ~2/(w+1) of positions, the
    classic bound.

    Per doc: gram count, selected-fingerprint count, and the exact sum of
    selected hashes (pins WHICH fingerprints were chosen, not just how
    many).

    Scale shape: ONE shuffle total.  The doc-keyed Window pass is the only
    Exchange; both downstream aggregates — dedup of selections (groupBy
    doc_id, sel) and the per-doc rollup — reuse the window's
    hash-partitioning on doc_id, and ``n_grams`` falls out as max(pos)+1
    (positions are dense), so no second scan or join is needed.  The
    rightmost-min tie rule costs nothing extra: hash and bit-inverted
    position share one 61-bit integer, so the window MIN already
    implements it.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    staged = docs.select("doc_id", text.tokens(F.col("text")).alias("_t")).where(
        F.size("_t") >= _WIN_N
    )
    grams = staged.select(
        "doc_id",
        F.posexplode(text.shingles_from_tokens(F.col("_t"), _WIN_N)).alias(
            "pos", "_g"
        ),
    ).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5(F.col("_g")), 1, 10), 16, 10)
        .cast("bigint")
        .alias("hx"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(1 - _WIN_W, 0)
    sel = grams.select(
        "doc_id",
        "pos",
        F.min(
            F.col("hx") * (1 << _POS_BITS) + (F.lit(_POS_CAP) - F.col("pos"))
        )
        .over(win)
        .alias("sel"),
    )
    fp = (
        sel.where(F.col("pos") >= _WIN_W - 1)
        .groupBy("doc_id", "sel")
        .agg(F.max("pos").alias("mp"))
    )
    return fp.groupBy("doc_id").agg(
        (F.max("mp") + 1).cast("long").alias("n_grams"),
        F.count("*").alias("n_fingerprints"),
        F.sum(F.expr(f"sel div {1 << _POS_BITS}")).alias("fp_hash_sum"),
    )


# --------------------------------------------------------------------------
# RAG chunking: fixed-size chunks with overlap
# --------------------------------------------------------------------------

_CHUNK = 64  # tokens per chunk
_STRIDE = 48  # chunk start stride (=> 16-token overlap)


_CHUNK_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ), d AS (
      SELECT doc_id, t, len(t) AS n,
             1 + (greatest(0, len(t) - {_CHUNK}) + {_STRIDE - 1}) // {_STRIDE}
               AS nc
      FROM toks
    ), ch AS (
      SELECT doc_id, k AS chunk_idx, k * {_STRIDE} AS start_tok,
             list_slice(t, k * {_STRIDE} + 1,
                        least(k * {_STRIDE} + {_CHUNK}, n)) AS ctoks
      FROM d, unnest(range(nc)) AS u(k)
    )
    SELECT doc_id, chunk_idx, start_tok,
           len(ctoks) AS n_chunk_tokens,
           ('0x' || substr(md5(array_to_string(ctoks, ' ')), 1, 15))::BIGINT
             AS chunk_hash
    FROM ch
    """


@register("docs_chunk_overlap", oracle=_CHUNK_ORACLE)
def docs_chunk_overlap(spark, sf_dir):
    """RAG-corpus chunking: 64-token chunks every 48 tokens (16-token
    overlap), one output row per chunk with its exact 60-bit content hash —
    the retrieval twin of ``docs_pack_sequences`` (training packs abut;
    retrieval chunks overlap so no query phrase straddles a boundary
    unseen).  Chunk count is 1 + ceil(max(0, n-64)/48), so every token is
    covered and the final partial chunk is kept.

    Scale shape: ZERO shuffles — token array, chunk count, chunk explode,
    slice, and hash are one narrow codegen projection chain per document;
    at 100 TB this is a pure scan-side map with output ~n/48 rows per doc.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    staged = docs.select("doc_id", text.tokens(F.col("text")).alias("_t")).select(
        "doc_id", "_t", F.size("_t").alias("n")
    )
    chunks = staged.select(
        "doc_id",
        "_t",
        F.explode(
            F.sequence(
                F.lit(0),
                F.expr(f"(greatest(0, n - {_CHUNK}) + {_STRIDE - 1}) div {_STRIDE}"),
            )
        ).alias("k"),
    ).select(
        "doc_id",
        F.col("k").cast("long").alias("chunk_idx"),
        (F.col("k") * _STRIDE).cast("long").alias("start_tok"),
        F.slice(F.col("_t"), F.col("k") * _STRIDE + 1, F.lit(_CHUNK)).alias("ctoks"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size("ctoks").cast("long").alias("n_chunk_tokens"),
        text.md5_long(F.concat_ws(" ", F.col("ctoks"))).alias("chunk_hash"),
    )


# --------------------------------------------------------------------------
# Integer PageRank over the parts co-purchase graph
# --------------------------------------------------------------------------

_PR_SCALE = 1_000_000  # rank unit: micro-rank, start = 1.0 per node
_PR_ITERS = 3
_PR_BASE = 150_000  # (1-d) * SCALE with d = 0.85


# The edge table feeds every iteration plus nodes/deg, so build it ONCE per
# (session, sf_dir): self-join + distinct, then repartition by src and
# persist — the iteration's rank⋈edges join and deg's groupBy(src) both
# reuse the cached src-partitioning (no edge-side Exchange per iteration;
# only the small rank table and the map-side-combined sums move).  Same
# shared-frontier discipline as the span-dup family's _span_doc_hashes.
@substrates.memo
def _copurchase_edges(spark, sf_dir: str):
    from pyspark import StorageLevel

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"].select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    e = (
        li.alias("a")
        .join(li.alias("b"), "ok")
        .where(F.col("a.pk") != F.col("b.pk"))
        .select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .distinct()
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return e


def _pr_sum_cte(prev: str, idx: int) -> str:
    return f"""s{idx} AS (
      SELECT e.dst AS node, SUM(r.r // g.d) AS c
      FROM e JOIN {prev} r ON r.node = e.src JOIN deg g ON g.node = e.src
      GROUP BY e.dst
    ), r{idx} AS (
      SELECT n.node, {_PR_BASE} + (85 * COALESCE(s.c, 0)) // 100 AS r
      FROM nodes n LEFT JOIN s{idx} s ON s.node = n.node
    )"""


_PAGERANK_ORACLE = f"""
    WITH li AS (
      SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), e AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ), nodes AS (
      SELECT DISTINCT src AS node FROM e
    ), deg AS (
      SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src
    ), r0 AS (
      SELECT node, CAST({_PR_SCALE} AS BIGINT) AS r FROM nodes
    ), {_pr_sum_cte('r0', 1)}, {_pr_sum_cte('r1', 2)}, {_pr_sum_cte('r2', 3)}
    SELECT node AS part_key, CAST(r AS BIGINT) AS rank_micro FROM r3
    """


@register("parts_copurchase_pagerank", oracle=_PAGERANK_ORACLE)
def parts_copurchase_pagerank(spark, sf_dir):
    """Damped PageRank (d=0.85, 3 iterations) over the undirected parts
    co-purchase graph: parts are linked when they appear in the same order
    (distinct pairs from a lineitem self-join per order key).  All
    arithmetic is exact integer micro-rank: each neighbor contribution is
    ``rank div out_degree`` and the damping step is
    ``150000 + (85 * sum) div 100`` — truncating division on non-negative
    operands, bit-identical in Spark and DuckDB, so the iterative result is
    hash-verifiable cross-engine (same discipline as the dyadic EWMA).

    Scale shape: edge building is an order-keyed self-join (fan-out bounded
    by order size squared, never all-pairs); each iteration is one
    src-keyed join (rank ⋈ out-degree first — node-keyed, small — then to
    edges) plus one partial-combined sum by dst: 2 shuffles per iteration,
    linear in edges.  Co-purchase edges are symmetric, so there are no
    dangling nodes and no rank leak.  The iterative-join shape is the
    same one proven out by dedup_survivors' connected components.
    """
    ladder = _pr_rank_ladder(spark, sf_dir)
    return ladder[-1].select(
        F.col("node").alias("part_key"), F.col("r").alias("rank_micro")
    )


# Per-iteration rank ladder, shared between parts_copurchase_pagerank and
# parts_copurchase_pagerank_residual (r11 verdict ask #3).  Without it the
# residual query's 3-branch union re-evaluates each iteration's full
# lineage per branch (Spark has no cross-branch subtree reuse), an
# O(iters^2) blow-up that made it the catalog's slowest query; persisting
# each rank table (one row per node — O(nodes), the same class as the
# edge substrate) makes branch k a join of two cached node-sized frames,
# and lets the pagerank readout reuse the same build.  Keyed like
# _copurchase_edges; arithmetic is unchanged, so the hash-pinned results are
# bit-identical.
@substrates.memo
def _pr_rank_ladder(spark, sf_dir: str) -> list:
    """[r0, r1, ..., r_PR_ITERS] — each a persisted (node, r) frame."""
    from pyspark import StorageLevel

    e = _copurchase_edges(spark, sf_dir)
    nodes = e.select(F.col("src").alias("node")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranks = nodes.select("node", F.lit(_PR_SCALE).cast("long").alias("r"))
    ladder = [ranks.persist(StorageLevel.MEMORY_AND_DISK)]
    for _ in range(_PR_ITERS):
        contrib = ladder[-1].join(deg, "node").select(
            "node", F.expr("r div d").alias("unit")
        )
        sums = (
            e.join(contrib, e.src == contrib.node)
            .groupBy("dst")
            .agg(F.sum("unit").alias("c"))
        )
        nxt = nodes.join(sums, nodes.node == sums.dst, "left").select(
            "node",
            (
                F.lit(_PR_BASE)
                + F.expr("85 * coalesce(c, 0L) div 100")
            ).alias("r"),
        )
        ladder.append(nxt.persist(StorageLevel.MEMORY_AND_DISK))
    return ladder
