"""Similarity search over an embedding column (``array<float>``).

Two paths, mirroring how a 100 TB ANN pipeline is actually built:

- **Brute-force top-k** (the correctness baseline): query set × corpus join
  with a JVM-side dot product (``F.aggregate`` over ``zip_with`` — no Python
  in the loop), ranked per query. Cost is |queries| × |corpus|; fine when the
  query side is small (it's broadcast), wrong as all-pairs — use LSH then.
- **Random-hyperplane LSH buckets** (the scale path): H fixed hyperplanes →
  H-bit signature → join on bucket. Hyperplanes are deterministic (seeded
  constants shared with the DuckDB oracle), so results are reproducible.

All floating-point is computed in float64 with a fixed left-to-right
summation order and rounded for comparison stability.
"""

from __future__ import annotations

import hashlib
import struct as _struct

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.session import spread_small_scan


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i], left-to-right — same order DuckDB's list functions use,
    so the float64 result is bit-identical for oracle comparison."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def knn_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (small by construction); the corpus is
    scanned once. Ranking uses the ROUNDED cosine (6 dp) with id tie-break so
    ordering is stable across engines and float summation orders.
    Output: query_id, neighbor_id, cos_sim, rank.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    # The |queries| x |corpus| cosine product runs in the scan's own stage:
    # spread a low-parallelism corpus scan first (guide §2.2; no-op at scale).
    c = spread_small_scan(embeddings, embeddings.sparkSession).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim.

    Derived from md5 — no RNG library, so the exact same constants can be
    embedded in generated oracle SQL. Quality is adequate for LSH (uniformity
    matters, gaussianity barely does for sign-random-projection).
    """
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"hyperplane-{seed}-{p}-{d}".encode()).digest()
            (u,) = _struct.unpack(">Q", h[:8])
            row.append(round(u / 2**63 - 1.0, 9))  # [-1, 1), 9 dp for SQL literals
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """H-bit sign-random-projection bucket id (bigint).

    Each plane's constant vector is built as ONE ``F.expr("array(...)")``
    rather than dim separate ``F.lit`` calls: the resulting literal array is
    the same Catalyst node (CreateArray of double literals, identical float
    values — the plane constants are 9-dp decimals that parse exactly), but
    the driver-side construction drops from ~dim py4j roundtrips per plane
    to one.  With 8 planes x 64 dims per call site and several call sites
    per query, this is the difference between ~0.5 s and ~10 ms of
    DataFrame-build time per ANN query (guide §1.2: per-task work includes
    the driver's plan construction when the harness times it).
    """
    acc = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        lit_plane = F.expr(
            "array(" + ", ".join(f"{v!r}D" for v in plane) + ")"
        )
        d = dot(vec, lit_plane)
        acc = acc + F.when(d > 0, F.lit(2**i).cast("bigint")).otherwise(F.lit(0))
    return acc


def embedding_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """vec_id → LSH bucket. One projection; the bucket column is then the
    shuffle/join key for ANN and near-dup workloads."""
    planes = hyperplanes(dim, n_planes, seed)
    return spread_small_scan(embeddings, embeddings.sparkSession).select(
        F.col(id_col),
        lsh_bucket(as_double(F.col(vec_col)), planes).alias("bucket"),
    )


def knn_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket; rank by
    exact cosine within the bucket. Recall grows with fewer planes / multiple
    tables; this is the single-table variant."""
    planes = hyperplanes(dim, n_planes, seed)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("bucket", lsh_bucket(F.col("qv"), planes))
    c = spread_small_scan(embeddings, embeddings.sparkSession).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("bucket", lsh_bucket(F.col("cv"), planes))
    scored = (
        F.broadcast(q)
        .join(c, (q["bucket"] == c["bucket"]) & (F.col("query_id") != F.col("neighbor_id")))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivf_scored(
    embeddings: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """vec_id × centroid cosine scores with per-vector rank (rank 1 = the
    vector's IVF cell). Centroids are the first ``n_centroids`` vectors — a
    deterministic stand-in for a k-means coarse quantizer (at 100 TB the
    centroid set comes from a sampled k-means fit, still tiny → broadcast).

    Cosines are ROUNDED (6 dp) before ranking with centroid-id tie-break, so
    the ranking is reproducible across engines and summation orders.
    """
    cent = embeddings.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("ce")
    )
    scored = spread_small_scan(embeddings, embeddings.sparkSession).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("ve")
    ).join(F.broadcast(cent)).select(
        "vid", "cid", F.round(cosine(F.col("ve"), F.col("ce")), 6).alias("cs")
    )
    w = Window.partitionBy("vid").orderBy(F.col("cs").desc(), F.col("cid").asc())
    return scored.withColumn("crank", F.row_number().over(w))


def knn_ivf(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: assign every vector to its nearest
    centroid (the cell), probe the query's ``nprobe`` nearest cells, rank
    candidates by exact cosine within the probed cells.

    Scale shape: assignment is a |corpus| × |centroids| broadcast product (one
    scan); the candidate join is cell-bucketed — per query only ~nprobe/C of
    the corpus is scored, and the cell column is the natural partition key for
    a 100 TB vector table.
    """
    scored = ivf_scored(embeddings, n_centroids, id_col, vec_col)
    cells = scored.filter(F.col("crank") == 1).select(
        F.col("vid").alias("neighbor_id"), F.col("cid").alias("cell")
    )
    probes = scored.filter(
        (F.col("vid") < n_queries) & (F.col("crank") <= nprobe)
    ).select(F.col("vid").alias("query_id"), F.col("cid").alias("cell"))

    vecs = embeddings.select(
        F.col(id_col).alias("_vid"), as_double(F.col(vec_col)).alias("_v")
    )
    cand = (
        F.broadcast(probes)
        .join(cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(
            F.broadcast(
                vecs.select(F.col("_vid").alias("query_id"), F.col("_v").alias("qv"))
            ),
            "query_id",
        )
        .join(
            vecs.select(F.col("_vid").alias("neighbor_id"), F.col("_v").alias("cv")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing: only
    same-bucket pairs are compared — the all-pairs O(n²) never materializes.
    Output: id_a < id_b, cos_sim ≥ threshold."""
    planes = hyperplanes(dim, n_planes, seed)
    b = spread_small_scan(embeddings, embeddings.sparkSession).select(
        F.col(id_col).alias("id"),
        as_double(F.col(vec_col)).alias("v"),
    ).withColumn("bucket", lsh_bucket(F.col("v"), planes))
    left = b.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("bucket")
    )
    right = b.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("bucket")
    )
    return (
        left.join(right, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search", public)
# --------------------------------------------------------------------------


def _subspace_rows(
    vecs: DataFrame, id_alias: str, m_subspaces: int, sub_len: int, vec_col: str
) -> DataFrame:
    """(id, m, sub) rows: each vector split into its M subvectors."""
    v = as_double(F.col(vec_col))
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(v, m * sub_len + 1, sub_len).alias("sub"),
            )
            for m in range(m_subspaces)
        ]
    )
    return vecs.select(
        F.col("vec_id").alias(id_alias), F.explode(subs).alias("_s")
    ).select(id_alias, F.col("_s.m").alias("m"), F.col("_s.sub").alias("sub"))


def _l2sq_fixed(a: Column, b: Column) -> Column:
    """Squared L2 distance as an exact fixed-point bigint (×1e6).

    The float64 fold is left-to-right (matches DuckDB's explicit term sum);
    converting to integer micro-units immediately makes every downstream
    aggregation (argmin, Σ over subspaces, ranking) order-independent and
    bit-identical across engines.
    """
    d2 = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.round(d2 * F.lit(1_000_000.0), 0).cast("bigint")


# --- trained codebooks: seeded Lloyd iterations, exact fixed-point ---------
#
# The untrained PQ/IVF paths use first-K-vector codebooks (a documented
# deterministic stand-in). These helpers run REAL Lloyd (k-means) rounds as
# DataFrame ops, keeping every quantity an exact integer so the fit — and
# therefore the final ANN ranking — is bit-identical across engines and
# partition orders:
#   * components are fixed-point micro-units (round(x * 1e6) as bigint);
#   * distances are sums of squared integer diffs (order-independent);
#   * centroid updates are integer means (sum div count; Spark `div` and
#     DuckDB `//` both truncate toward zero, verified);
#   * argmins break ties on codeword id via min(struct(d, j)).
# Clusters that lose all members simply drop out of the next round (both
# engines' GROUP BY semantics), shrinking K deterministically.


# The component table feeds every Lloyd round twice (distance join + mean
# update) plus final encode/re-rank — 2·iterations + 2 consumers. Persist it
# once per (session, source plan, split) so the scan+posexplode subtree
# doesn't re-execute per consumer; at 100 TB this is the difference between
# one corpus pass and eight.
@substrates.memo
def component_rows(
    embeddings: DataFrame,
    m_subspaces: int = 8,
    sub_len: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, m, comp, x) fixed-point component rows: vector index split into
    subspace ``m`` and within-subspace offset ``comp``. Persisted + memoized
    per (session, source, split) — see the comment above."""
    from pyspark import StorageLevel

    return (
        embeddings.select(
            F.col(id_col).alias("vid"),
            F.posexplode(F.col(vec_col)).alias("i", "_x"),
        )
        .select(
            "vid",
            (F.col("i") / sub_len).cast("int").alias("m"),
            (F.col("i") % sub_len).cast("int").alias("comp"),
            F.round(F.col("_x").cast("double") * 1_000_000.0, 0)
            .cast("bigint")
            .alias("x"),
        )
        # Persist HASH-PARTITIONED BY vid: every consumer groups or joins on
        # a key set containing vid — (vid,m,j) distance sums, (vid,m)
        # argmins, the (vid,m) assignment join of each Lloyd round — and
        # hash(vid) satisfies all of those clusterings, so the exchanges
        # those operators would otherwise insert per training round
        # disappear (guide §2.4: co-partition once, reuse across passes).
        .repartition("vid")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _pq_distances(comp: DataFrame, cent: DataFrame) -> DataFrame:
    """(vid, m, j, d): exact squared-L2 (in squared micro-units) from every
    vector-subspace to every centroid of that subspace. The centroid table is
    M×K×sub_len rows — always broadcast."""
    diff = F.col("x") - F.col("c")
    return (
        comp.join(F.broadcast(cent), ["m", "comp"])
        .groupBy("vid", "m", "j")
        .agg(F.sum(diff * diff).alias("d"))
    )


def _pq_argmin(dists: DataFrame) -> DataFrame:
    """(vid, m, j): nearest codeword per vector-subspace, ties to low j."""
    return (
        dists.select(
            "vid", "m", F.struct(F.col("d"), F.col("j")).alias("_c")
        )
        .groupBy("vid", "m")
        .agg(F.min("_c").alias("_b"))
        .select("vid", "m", F.col("_b.j").alias("j"))
    )


# The same deterministic Lloyd fit is requested by several certified queries
# (knn_ivf_trained, dedup_semantic, embedding_residual_vq stage 1 and the
# IVF-PQ index all train the identical (full-dim comp, K=8, 2-round) coarse
# quantizer) — memoize per (session, component plan, K, iterations) so the
# training rounds run once per session, the same substrate discipline as
# component_rows/_ivfpq_index. The fit is a pure function of its key
# (seeded init, integer arithmetic), so sharing cannot change any result.
@substrates.memo
def lloyd_codebook(
    comp: DataFrame, k_codewords: int = 16, iterations: int = 2
) -> DataFrame:
    """Seeded Lloyd fit over fixed-point component rows: initial codebook =
    components of the first ``k_codewords`` vectors, then ``iterations``
    assign/update rounds. Returns (m, j, comp, c).

    Scale shape per round: one broadcast join of the corpus against the tiny
    codebook + two partial-combined aggregations — the canonical distributed
    k-means step. Nothing is collected; the codebook stays a DataFrame.

    Each round's centroid table (M×K×sub_len rows — tiny) is persisted so
    consumers of the returned codebook (distance/encode/ADC branches, or a
    composed index like IVF-PQ that reads it 4×) reuse the materialized
    rows instead of re-executing the whole training lineage per branch;
    the finished fit is additionally memoized per (session, comp plan,
    K, iterations) — see the comment above."""
    from pyspark import StorageLevel

    cent = comp.filter(F.col("vid") < k_codewords).select(
        "m", F.col("vid").cast("int").alias("j"), "comp", F.col("x").alias("c")
    )
    for _ in range(iterations):
        assign = _pq_argmin(_pq_distances(comp, cent))
        cent = (
            comp.join(assign, ["vid", "m"])
            .groupBy("m", "j", "comp")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt"))
            .select("m", "j", "comp", F.expr("s div cnt").alias("c"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    return cent


# The corpus × trained-codebook distance table is likewise requested by
# several consumers of the SAME fit — cell assignment, query probing, the
# RVQ stage-1 encode, SemDeDup's cell table — and each previously re-ran the
# broadcast-join + partial-sum aggregation from the cached component rows.
# Persist + memoize it next to the fit it belongs to (corpus × K rows).
@substrates.memo
def trained_distances(
    comp: DataFrame, k_codewords: int, iterations: int
) -> DataFrame:
    """(vid, m, j, d) exact squared-L2 of every vector-subspace to every
    codeword of the Lloyd-trained codebook — persisted + memoized per
    (session, comp plan, K, iterations), sharing the fit via lloyd_codebook's
    own memo. Same rows as _pq_distances(comp, lloyd_codebook(comp, ...))."""
    from pyspark import StorageLevel

    cent = lloyd_codebook(comp, k_codewords, iterations)
    return _pq_distances(comp, cent).persist(StorageLevel.MEMORY_AND_DISK)


def knn_pq_trained(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    m_subspaces: int = 8,
    k_codewords: int = 16,
    dim: int = 64,
    iterations: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ ANN with a LLOYD-TRAINED codebook (vs knn_pq's first-K stand-in):
    ``iterations`` k-means rounds fit the per-subspace codewords, then the
    corpus is encoded and queries rank candidates by asymmetric distance,
    exactly as in knn_pq. Distances stay exact integers end-to-end, so the
    trained fit is reproducible cross-engine. adist is reported in real
    squared-L2 units (micro-unit² / 1e12), rounded to 6 dp."""
    sub_len = dim // m_subspaces
    comp = component_rows(embeddings, m_subspaces, sub_len, vec_col=vec_col)
    dists = trained_distances(comp, k_codewords, iterations)
    codes = _pq_argmin(dists)
    qd = dists.filter(F.col("vid") < n_queries).select(
        F.col("vid").alias("query_id"), "m", "j", F.col("d").alias("qd")
    )
    adist = (
        codes.join(F.broadcast(qd), ["m", "j"])
        .filter(F.col("query_id") != F.col("vid"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("qd").alias("afix"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("afix").asc(), F.col("neighbor_id").asc()
    )
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("afix").cast("double") / 1e12, 6).alias("adist"),
            "rank",
        )
    )


def knn_ivf_trained(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    iterations: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a LLOYD-TRAINED coarse quantizer (vs knn_ivf's first-K
    stand-in): the full-dimension vectors are one 'subspace' of the same
    fixed-point Lloyd machinery (m_subspaces=1), so the trained cell
    assignment is bit-identical cross-engine. Queries probe their ``nprobe``
    nearest cells and rank candidates by EXACT squared L2 (fixed-point),
    ties to the lower neighbor id.

    Scale shape: training/assignment is corpus × broadcast centroids (one
    scan per round); the candidate join is cell-bucketed so each query
    scores ~nprobe/C of the corpus; exact re-ranking joins the broadcast
    query components against candidate components on the (neighbor, comp)
    key. Nothing is O(n²)."""
    comp = component_rows(embeddings, 1, dim, vec_col=vec_col)
    dists = trained_distances(comp, n_centroids, iterations)
    cells = _pq_argmin(dists).select(
        F.col("vid").alias("neighbor_id"), F.col("j").alias("cell")
    )
    wp = Window.partitionBy("vid").orderBy(F.col("d").asc(), F.col("j").asc())
    probes = (
        dists.filter(F.col("vid") < n_queries)
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= nprobe)
        .select(F.col("vid").alias("query_id"), F.col("j").alias("cell"))
    )
    cand = (
        F.broadcast(probes)
        .join(cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    qc = comp.filter(F.col("vid") < n_queries).select(
        F.col("vid").alias("query_id"), "comp", F.col("x").alias("qx")
    )
    diff = F.col("qx") - F.col("x")
    pd = (
        cand.join(F.broadcast(qc), "query_id")
        .join(
            comp.select(F.col("vid").alias("neighbor_id"), "comp", "x"),
            ["neighbor_id", "comp"],
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(diff * diff).alias("dfix"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dfix").asc(), F.col("neighbor_id").asc()
    )
    return (
        pd.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dfix").cast("double") / 1e12, 6).alias("dist"),
            "rank",
        )
    )


def knn_pq(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    m_subspaces: int = 8,
    k_codewords: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k: the corpus is compressed to M per-
    subspace codeword ids; queries stay full-precision and rank candidates by
    the sum of query-to-codeword distances (ADC).

    Codebooks are the subvectors of the first ``k_codewords`` vectors — the
    deterministic stand-in for a trained k-means codebook (same convention as
    the IVF coarse quantizer; at 100 TB the codebook comes from a sampled fit
    and is still M×K×sub_len floats → broadcast).

    Scale shape: encoding is corpus-subspace rows × a broadcast 128-row
    codebook, reduced by a partial-aggregated min(struct) argmin — one linear
    scan, one shuffle on (vid, m). The query ADC table (n_queries×M×K rows)
    is broadcast; the final Σ over M is an exact bigint aggregation. Nothing
    here is O(n²) and the compressed code table is ~M bytes/vector — the
    entire point of PQ at 100 TB.
    """
    sub_len = dim // m_subspaces
    cw = _subspace_rows(
        embeddings.filter(F.col("vec_id") < k_codewords),
        "j",
        m_subspaces,
        sub_len,
        vec_col,
    ).select("j", "m", F.col("sub").alias("cw_sub"))

    corpus = _subspace_rows(embeddings, "vid", m_subspaces, sub_len, vec_col)
    codes = (
        corpus.join(F.broadcast(cw), "m")
        .select(
            "vid",
            "m",
            F.struct(
                _l2sq_fixed(F.col("sub"), F.col("cw_sub")).alias("dfix"),
                F.col("j").alias("j"),
            ).alias("cand"),
        )
        .groupBy("vid", "m")
        .agg(F.min("cand").alias("best"))
        .select("vid", "m", F.col("best.j").alias("j"))
    )

    qdist = (
        _subspace_rows(
            embeddings.filter(F.col("vec_id") < n_queries),
            "query_id",
            m_subspaces,
            sub_len,
            vec_col,
        )
        .join(F.broadcast(cw), "m")
        .select(
            "query_id",
            "m",
            "j",
            _l2sq_fixed(F.col("sub"), F.col("cw_sub")).alias("qdfix"),
        )
    )

    adist = (
        codes.join(F.broadcast(qdist), ["m", "j"])
        .filter(F.col("query_id") != F.col("vid"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("qdfix").alias("afix"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("afix").asc(), F.col("neighbor_id").asc()
    )
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("afix").cast("double") / 1_000_000.0, 6).alias("adist"),
            "rank",
        )
    )


# The trained IVF-PQ index (coarse codebook, cell assignment, residual PQ
# codebook, code table) is read by four certified queries (knn_ivf_pq, its
# recall harness, the indexed hybrid and the hybrid-recall composition) with
# identical index hyperparameters — only the QUERY-side knobs (n_queries,
# nprobe, k) differ. Memoize the build per (session, corpus plan, index
# hyperparameters): at 100 TB the index build is exactly what a production
# deployment amortizes across every query batch against it (the claim the
# docs_hybrid_rrf_indexed docstring already makes).
@substrates.memo
def _ivfpq_index(
    embeddings: DataFrame,
    n_centroids: int,
    m_subspaces: int,
    k_codewords: int,
    dim: int,
    coarse_iterations: int,
    pq_iterations: int,
    vec_col: str,
) -> tuple:
    """(comp1, coarse, cdists, cells, pq_cent, codes): the trained IVF-PQ
    index tables, persisted + memoized per (session, corpus, index params).
    See knn_ivf_pq for the algorithm; this holds steps 1-3 (train coarse,
    assign cells, train residual PQ, encode), leaving the per-query probe/
    ADC/ranking path (step 4) to the caller."""
    from pyspark import StorageLevel

    sub_len = dim // m_subspaces
    comp1 = component_rows(embeddings, 1, dim, vec_col=vec_col)
    coarse = lloyd_codebook(comp1, n_centroids, coarse_iterations)
    # Coarse distances feed cell assignment AND query probing — the shared
    # persisted (corpus × C)-row substrate (also read by knn_ivf_trained,
    # dedup_semantic and embedding_residual_vq when hyperparameters match).
    cdists = trained_distances(comp1, n_centroids, coarse_iterations)
    # cells/codes stay UNPERSISTED derived frames: they are cheap argmin
    # aggregations over the persisted cdists/res (exchange-free — the
    # substrates are hash(vid)-partitioned), and persisting them was
    # measured SLOWER warm (the 80k-row codes IMTS gets driver-collected
    # for a broadcast join every execution, where the inline subtree
    # plans a sort-merge that never touches the driver).
    cells = _pq_argmin(cdists).select("vid", F.col("j").alias("cell"))

    # Residual components, re-keyed into PQ subspaces: m = comp div sub_len,
    # within-subspace offset comp mod sub_len. Exact bigint subtraction.
    res = (
        comp1.join(cells, "vid")
        .join(
            F.broadcast(
                coarse.select(F.col("j").alias("cell"), "comp", "c")
            ),
            ["cell", "comp"],
        )
        .select(
            "vid",
            "cell",
            (F.col("comp") / sub_len).cast("int").alias("m"),
            (F.col("comp") % sub_len).cast("int").alias("comp"),
            (F.col("x") - F.col("c")).alias("x"),
        )
    )
    # res feeds codebook training (2 consumers/round) and encoding — persist
    # for the duration of the build, same rationale as component_rows.
    res = res.persist(StorageLevel.MEMORY_AND_DISK)

    pq_cent = lloyd_codebook(
        res.select("vid", "m", "comp", "x"), k_codewords, pq_iterations
    )
    codes = _pq_argmin(_pq_distances(res, pq_cent)).select(
        F.col("vid").alias("neighbor_id"), "m", F.col("j").alias("j")
    )
    return (comp1, coarse, cdists, cells, pq_cent, codes)


def knn_ivf_pq(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    m_subspaces: int = 8,
    k_codewords: int = 16,
    dim: int = 64,
    coarse_iterations: int = 2,
    pq_iterations: int = 1,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the composed index (coarse quantizer + product-quantized
    RESIDUALS) that production ANN systems deploy at scale — Lloyd-trained
    at both levels, exact fixed-point end-to-end.

    1. Train a coarse quantizer on the full-dimension vectors and assign
       every vector to its nearest cell (same machinery as knn_ivf_trained).
    2. Compute per-component residuals r = x − c_cell (exact bigint
       micro-units) and train a per-subspace PQ codebook ON THE RESIDUALS —
       the detail the flat-PQ path cannot express, and why IVF-PQ recall
       beats PQ at equal code size.
    3. Encode every vector's residual as M codeword ids.
    4. Each query probes its ``nprobe`` nearest cells; its residual is
       recomputed PER PROBED CELL, giving a per-(query, cell) ADC table
       (n_queries × nprobe × M × K rows — broadcast). Candidates score as
       Σ_m ADC[query, cell(candidate), m, code(candidate, m)].

    Scale shape: both training loops are corpus × broadcast-centroid joins
    with partial-combined aggregations; encoding is one corpus pass; the
    candidate set is cell-bucketed (~nprobe/C of the corpus per query); the
    compressed table is M bytes/vector. No stage is O(n²) and nothing is
    collected driver-side.
    """
    sub_len = dim // m_subspaces

    comp1, coarse, cdists, cells, pq_cent, codes = _ivfpq_index(
        embeddings,
        n_centroids,
        m_subspaces,
        k_codewords,
        dim,
        coarse_iterations,
        pq_iterations,
        vec_col,
    )

    wp = Window.partitionBy("vid").orderBy(F.col("d").asc(), F.col("j").asc())
    probes = (
        cdists.filter(F.col("vid") < n_queries)
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= nprobe)
        .select(F.col("vid").alias("query_id"), F.col("j").alias("cell"))
    )

    # Query residual PER PROBED CELL (asymmetric: full-precision query minus
    # that cell's centroid), then the (query, cell, m, j) ADC table.
    qres = (
        comp1.filter(F.col("vid") < n_queries)
        .select(F.col("vid").alias("query_id"), "comp", "x")
        .join(F.broadcast(probes), "query_id")
        .join(
            F.broadcast(
                coarse.select(F.col("j").alias("cell"), "comp", "c")
            ),
            ["cell", "comp"],
        )
        .select(
            "query_id",
            "cell",
            (F.col("comp") / sub_len).cast("int").alias("m"),
            (F.col("comp") % sub_len).cast("int").alias("comp"),
            (F.col("x") - F.col("c")).alias("qx"),
        )
    )
    qdiff = F.col("qx") - F.col("c")
    adc = (
        qres.join(
            F.broadcast(
                pq_cent.select(
                    "m", F.col("j").alias("j"), "comp", "c"
                )
            ),
            ["m", "comp"],
        )
        .groupBy("query_id", "cell", "m", "j")
        .agg(F.sum(qdiff * qdiff).alias("qd"))
    )

    cand = (
        F.broadcast(probes)
        .join(
            cells.select(F.col("vid").alias("neighbor_id"), "cell"), "cell"
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    adist = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(adc), ["query_id", "cell", "m", "j"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qd").alias("afix"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("afix").asc(), F.col("neighbor_id").asc()
    )
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("afix").cast("double") / 1e12, 6).alias("adist"),
            "rank",
        )
    )


def knn_exact_fixed(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by squared L2 in fixed-point micro-units — the ground
    truth an ANN index is evaluated against. The query component table
    (n_queries × dim rows) is broadcast against the corpus component table
    on the component index: one linear corpus scan, one (query, neighbor)
    partial-combined aggregation, a query-keyed top-k window. Ties break to
    the lower neighbor id, matching every ANN ranking in this module."""
    comp = component_rows(embeddings, 1, dim, vec_col=vec_col)
    qc = comp.filter(F.col("vid") < n_queries).select(
        F.col("vid").alias("query_id"), "comp", F.col("x").alias("qx")
    )
    diff = F.col("qx") - F.col("x")
    pd = (
        comp.join(F.broadcast(qc), "comp")
        .filter(F.col("query_id") != F.col("vid"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum(diff * diff).alias("dfix"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dfix").asc(), F.col("neighbor_id").asc()
    )
    return (
        pd.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dfix", "rank")
    )
