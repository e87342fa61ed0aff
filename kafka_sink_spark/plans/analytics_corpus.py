"""Round-6c corpus-curation wave: the published data-selection and
compression steps a 100 TB training pipeline runs AFTER the syntactic
filters (Gopher rules, exact/near dedup) have done their work —

- ``dedup_semantic``        SemDeDup (Abbas et al. 2023): k-means cluster the
                            embedding space, remove high-cosine neighbors
                            within each cluster, keeping the member farthest
                            from its centroid.
- ``docs_dsir_weights``     DSIR (Xie et al. 2023): hashed-bigram importance
                            weights of a raw corpus against a quality-target
                            subset (here: the Gopher-passing docs).
- ``docs_lm_predictability``  bigram-LM quality proxy (the transcendental-free
                            stand-in for KenLM perplexity filtering à la
                            CCNet, Wenzek et al. 2020): per-doc mean corpus
                            conditional bigram probability.
- ``embedding_quantize_int8``  per-dimension scalar quantization of the
                            embedding column to int8 codes with exact
                            fixed-point reconstruction error — the storage
                            tier below PQ.
- ``dedup_minhash_accuracy``  evaluation harness: MinHash-estimated vs exact
                            n-gram Jaccard on the LSH candidate pairs
                            (the measure-don't-guess companion to
                            dedup_minhash_pairs, mirroring knn_ivf_pq_recall
                            on the ANN side).

Cross-engine determinism follows the package convention (queries.py header):
exact integer arithmetic end-to-end — fixed-point micro-units, integer
truncating division (Spark ``div`` ≡ DuckDB ``//`` for non-negative
operands), md5-derived hashes — with any reported float a single division of
exact integers rounded to 6 dp after identical computation order.

Reference anchor: the reference connector (datastax/kafka-sink,
sink/src/main — record mapping + DSE writes) has no analytics surface; this
module is part of the extension inventory SURVEY.md §2 lists beyond parity.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.extensions import dedup, similarity, text
from kafka_sink_spark.plans.analytics_quality import _GOPHER, _GOPHER_ORACLE
from kafka_sink_spark.plans.analytics_training import _ivf_pq_ctes
from kafka_sink_spark.plans.queries import register
from kafka_sink_spark.session import load_tables

# --------------------------------------------------------------------------
# SemDeDup: semantic deduplication over the embedding space
# --------------------------------------------------------------------------

_SEM_C = 8           # coarse clusters (shared with the IVF family)
_SEM_ITERS = 2       # Lloyd rounds (shared with knn_ivf_trained)
_SEM_DIM = 64
# cosine threshold τ = 7/20 = 0.35 as an exact rational: cos(a,b) > τ  ⟺
# dot > 0  AND  400·dot² > 49·|a|²·|b|²  — no sqrt, no float, ever.
_SEM_TAU_NUM, _SEM_TAU_DEN = 7, 20


def _sem_cells_ctes() -> list:
    """The shared Lloyd-training CTE chain (comp → c0 → …​ → cdf) from the
    IVF-PQ oracle, truncated after ``cdf`` (per-vector distance to every
    trained centroid) — the semantic-dedup oracle builds its cells from the
    IDENTICAL trained quantizer the Spark side gets from
    similarity.lloyd_codebook (same constants: C=8, 2 iterations)."""
    ctes = _ivf_pq_ctes(
        n_centroids=_SEM_C, dim=_SEM_DIM, coarse_iterations=_SEM_ITERS
    )
    keep = []
    for cte in ctes:
        keep.append(cte)
        if cte.lstrip().startswith("cdf"):
            return keep
    raise AssertionError("cdf CTE not found in _ivf_pq_ctes")


def _semantic_oracle() -> str:
    t2 = _SEM_TAU_NUM * _SEM_TAU_NUM
    d2 = _SEM_TAU_DEN * _SEM_TAU_DEN
    ctes = _sem_cells_ctes()
    ctes.append(
        """cl AS (
      SELECT vid, j AS cell, d AS dcent FROM (
        SELECT vid, j, d, row_number() OVER (PARTITION BY vid ORDER BY d, j) AS rn
        FROM cdf) WHERE rn = 1
    )"""
    )
    ctes.append(
        """n2 AS (
      SELECT vid, SUM(x * x) AS na2 FROM comp GROUP BY vid
    )"""
    )
    ctes.append(
        """prs AS (
      SELECT a.vid AS va, b.vid AS vb
      FROM cl a JOIN cl b ON a.cell = b.cell AND a.vid < b.vid
    )"""
    )
    ctes.append(
        """dots AS (
      SELECT p.va, p.vb, SUM(qa.x * qb.x) AS dot
      FROM prs p
      JOIN comp qa ON qa.vid = p.va
      JOIN comp qb ON qb.vid = p.vb AND qb.comp = qa.comp
      GROUP BY 1, 2
    )"""
    )
    ctes.append(
        f"""sim AS (
      SELECT d.va, d.vb FROM dots d
      JOIN n2 a ON a.vid = d.va
      JOIN n2 b ON b.vid = d.vb
      WHERE d.dot > 0
        AND {d2} * CAST(d.dot AS HUGEINT) * d.dot
            > {t2} * CAST(a.na2 AS HUGEINT) * b.na2
    )"""
    )
    ctes.append(
        """und AS (
      SELECT va AS vid, vb AS nb FROM sim
      UNION ALL
      SELECT vb AS vid, va AS nb FROM sim
    )"""
    )
    ctes.append(
        """agg AS (
      SELECT u.vid, COUNT(*) AS n_dup,
             MAX(CASE WHEN cn.dcent > cx.dcent
                        OR (cn.dcent = cx.dcent AND u.nb < u.vid)
                      THEN 1 ELSE 0 END) AS rem
      FROM und u
      JOIN cl cx ON cx.vid = u.vid
      JOIN cl cn ON cn.vid = u.nb
      GROUP BY u.vid
    )"""
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT c.vid AS vec_id, c.cell,
           round(CAST(c.dcent AS DOUBLE) / 1000000000000.0, 6) AS centroid_dist,
           CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup_neighbors,
           CAST(COALESCE(a.rem, 0) AS INTEGER) AS is_removed
    FROM cl c LEFT JOIN agg a ON a.vid = c.vid
    """
    )


@register("dedup_semantic", oracle=_semantic_oracle())
def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): embeddings are clustered by the SAME
    Lloyd-trained coarse quantizer the IVF family uses (C=8, 2 rounds, exact
    fixed-point), pairwise cosine is evaluated ONLY within a cluster, and of
    each τ-similar neighborhood the member FARTHEST from its centroid (the
    paper's keep-low-centroid-similarity rule) survives; a vector is removed
    when some τ-neighbor outranks it (farther from centroid, ties to the
    lower id). The τ = 0.35 test is an exact rational — cos > 7/20 ⟺
    400·dot² > 49·|a|²·|b|² with dot > 0 — so no sqrt or float cosine ever
    crosses an engine boundary (wide products in decimal(38,0) ≙ HUGEINT).

    Scale shape: training is corpus × broadcast centroids per round; the
    pair generation is CLUSTER-BUCKETED (the SemDeDup point: within-cluster
    pairs ≈ n²/C at uniform fill, never the corpus cross product) and the
    dot products join components on the (pair, comp) key — linear in
    candidate-pair volume. The removal rule is one aggregation over the
    undirected neighbor list; no iteration, no collect."""
    from pyspark import StorageLevel

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    comp = similarity.component_rows(emb, 1, _SEM_DIM)
    dists = similarity.trained_distances(comp, _SEM_C, _SEM_ITERS)
    # The cell-assignment table feeds FIVE consumers (both pair sides, both
    # removal-rank lookups, the output spine) — persist the n-row result so
    # the corpus × centroid distance aggregation underneath runs once, not 5×.
    cl = (
        dists.select(
            "vid", F.struct(F.col("d"), F.col("j")).alias("_c")
        )
        .groupBy("vid")
        .agg(F.min("_c").alias("_b"))
        .select(
            "vid", F.col("_b.j").alias("cell"), F.col("_b.d").alias("dcent")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Pairwise dot products run on FIXED-POINT ARRAYS (zip_with + aggregate,
    # one codegen projection per pair) rather than re-joining the 64×-exploded
    # component table per pair side — same exact integers (the lambda applies
    # component_rows' rounding formula), ~3× less shuffle volume: a pair row
    # carries two 64-long arrays once instead of 2×64 shuffled component rows.
    xv = F.expr(
        "transform(embedding, e -> cast(round(cast(e as double) * 1000000.0, 0)"
        " as bigint))"
    )
    fixed = emb.select(F.col("vec_id").alias("vid"), xv.alias("xv"))
    n2 = fixed.select(
        "vid",
        F.aggregate(
            F.col("xv"), F.lit(0).cast("bigint"), lambda acc, v: acc + v * v
        ).alias("na2"),
    )
    a, b = cl.alias("a"), cl.alias("b")
    prs = a.join(
        b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vid") < F.col("b.vid"))
    ).select(F.col("a.vid").alias("va"), F.col("b.vid").alias("vb"))
    fa = fixed.select(F.col("vid").alias("va"), F.col("xv").alias("xa"))
    fb = fixed.select(F.col("vid").alias("vb"), F.col("xv").alias("xb"))
    dots = (
        prs.join(fa, "va")
        .join(fb, "vb")
        .select(
            "va",
            "vb",
            F.aggregate(
                F.zip_with(F.col("xa"), F.col("xb"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("dot"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    t2, d2 = _SEM_TAU_NUM**2, _SEM_TAU_DEN**2
    sim = (
        dots.join(n2.select(F.col("vid").alias("va"), F.col("na2")), "va")
        .join(n2.select(F.col("vid").alias("vb"), F.col("na2").alias("nb2")), "vb")
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(d2) * dec(F.col("dot")) * dec(F.col("dot"))
                > F.lit(t2) * dec(F.col("na2")) * dec(F.col("nb2"))
            )
        )
        .select("va", "vb")
    )
    und = sim.select(F.col("va").alias("vid"), F.col("vb").alias("nb")).unionAll(
        sim.select(F.col("vb").alias("vid"), F.col("va").alias("nb"))
    )
    cx = cl.select("vid", F.col("dcent").alias("dx"))
    cn = cl.select(F.col("vid").alias("nb"), F.col("dcent").alias("dn"))
    agg = (
        und.join(cx, "vid")
        .join(cn, "nb")
        .groupBy("vid")
        .agg(
            F.count(F.lit(1)).alias("n_dup"),
            F.max(
                F.when(
                    (F.col("dn") > F.col("dx"))
                    | ((F.col("dn") == F.col("dx")) & (F.col("nb") < F.col("vid"))),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("rem"),
        )
    )
    return cl.join(agg, "vid", "left").select(
        F.col("vid").alias("vec_id"),
        "cell",
        F.round(F.col("dcent").cast("double") / 1e12, 6).alias("centroid_dist"),
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup_neighbors"),
        F.coalesce(F.col("rem"), F.lit(0)).cast("int").alias("is_removed"),
    )


# --------------------------------------------------------------------------
# Shared doc-bigram substrate (DSIR + LM predictability)
# --------------------------------------------------------------------------

_BIGRAM_SQL = """
      SELECT doc_id,
             t[i + 1] AS w1, t[i + 2] AS w2
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
        FROM documents
      ), unnest(range(len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
"""


# The bigram table feeds BOTH docs_dsir_weights and docs_lm_predictability
# (and their composition in pipeline_curation_v2) — memoize the persisted
# result per (session, source plan) like similarity.component_rows, so a
# composed run tokenizes the corpus once, not once per consumer.
@substrates.memo
def _doc_bigrams(docs):
    """(doc_id, w1, w2) — one row per adjacent whitespace-token pair,
    PERSISTED and memoized per (session, source plan). transform over the
    token array keeps the whole expression codegen; the single explode is
    the only fan-out."""
    from pyspark import StorageLevel

    t = text.tokens(F.col("text"))
    pairs = F.expr(
        "transform(sequence(1, size(_t) - 1), "
        "i -> struct(element_at(_t, i) AS w1, element_at(_t, i + 1) AS w2))"
    )
    out = (
        docs.select("doc_id", t.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select("doc_id", F.explode(pairs).alias("_p"))
        .select("doc_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return out


# --------------------------------------------------------------------------
# DSIR: hashed-bigram importance weights against a quality target
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 1024


def _dsir_oracle(buckets: int = _DSIR_BUCKETS) -> str:
    return f"""
    WITH bg AS (
      {_BIGRAM_SQL}
    ), feats AS (
      SELECT doc_id,
             ('0x' || substr(md5(w1 || ' ' || w2), 1, 15))::BIGINT % {buckets}
               AS feat
      FROM bg
    ), per_doc AS (
      SELECT doc_id, feat, COUNT(*) AS cnt FROM feats GROUP BY 1, 2
    ), tgt_ids AS (
      SELECT doc_id FROM ({_GOPHER_ORACLE}) WHERE ok_all = 1
    ), raw_f AS (
      SELECT feat, SUM(cnt) AS rc FROM per_doc GROUP BY feat
    ), tgt_f AS (
      SELECT p.feat, SUM(p.cnt) AS tc
      FROM per_doc p JOIN tgt_ids t ON t.doc_id = p.doc_id
      GROUP BY p.feat
    ), tots AS (
      SELECT (SELECT SUM(rc) FROM raw_f) AS rtot,
             (SELECT SUM(tc) FROM tgt_f) AS ttot
    ), ratios AS (
      SELECT r.feat,
             ((COALESCE(t.tc, 0) + 1) * z.rtot * 1000000)
               // ((r.rc + 1) * z.ttot) AS ratio_fixed
      FROM raw_f r
      LEFT JOIN tgt_f t ON t.feat = r.feat
      CROSS JOIN tots z
    ), scored AS (
      SELECT p.doc_id, SUM(p.cnt) AS n_grams,
             SUM(p.cnt * ra.ratio_fixed) AS score_fixed
      FROM per_doc p JOIN ratios ra ON ra.feat = p.feat
      GROUP BY p.doc_id
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(score_fixed AS BIGINT) AS score_fixed,
           CAST(score_fixed // n_grams AS DOUBLE) / 1000000.0 AS dsir_weight
    FROM scored
    """


# The (doc, feature) count table + the ≤_DSIR_BUCKETS-row ratio table are
# the DSIR model fit — consumed by docs_dsir_weights, docs_dsir_ess and any
# composition.  Memoized per (session, docs plan) like _doc_bigrams so the
# feature build + marginal/target aggregations run once per session; the
# per-doc scoring join + aggregate stay live per call.
@substrates.memo
def _dsir_substrate(docs):
    """(per_doc, ratios) — PERSISTED and memoized per (session, docs plan).

    per_doc: (doc_id, feat, cnt) hashed-bigram counts; ratios: (feat,
    ratio_fixed) smoothed target/raw probability ratios in ×1e6 fixed point.
    At 100 TB this is the importance-model fit a production DSIR run would
    compute exactly once and score every shard against."""
    from pyspark import StorageLevel

    per_doc = (
        _doc_bigrams(docs)
        .select(
            "doc_id",
            (
                text.md5_long(F.concat_ws(" ", F.col("w1"), F.col("w2")))
                % _DSIR_BUCKETS
            ).alias("feat"),
        )
        .groupBy("doc_id", "feat")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tgt_ids = (
        text.gopher_flags(docs, **_GOPHER)
        .filter(F.col("ok_all") == 1)
        .select("doc_id")
    )
    raw_f = per_doc.groupBy("feat").agg(F.sum("cnt").alias("rc"))
    tgt_f = (
        per_doc.join(tgt_ids, "doc_id")
        .groupBy("feat")
        .agg(F.sum("cnt").alias("tc"))
    )
    tots = raw_f.agg(F.sum("rc").alias("rtot")).crossJoin(
        F.broadcast(tgt_f.agg(F.sum("tc").alias("ttot")))
    )
    ratios = (
        raw_f.join(tgt_f, "feat", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "feat",
            F.expr(
                "((coalesce(tc, 0) + 1) * rtot * 1000000) div ((rc + 1) * ttot)"
            ).alias("ratio_fixed"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return per_doc, ratios


@register("docs_dsir_weights", oracle=_dsir_oracle())
def docs_dsir_weights(spark, sf_dir):
    """DSIR (Xie et al. 2023, 'Data Selection for Language Models via
    Importance Resampling'): documents are featurized as hashed bigrams
    (md5-derived 60-bit hash mod {B} buckets — the paper's hashed n-gram
    generative model), the TARGET distribution is the Gopher-passing subset
    (the published composition: syntactic quality gates feed the importance
    sampler), and each doc's importance weight is its mean per-feature
    smoothed probability ratio (target+1)/(raw+1) normalized by the corpus
    totals. The paper's log-ratio is replaced by the ratio itself in exact
    fixed-point (×1e6, truncating integer division) so weights hash
    bit-identically cross-engine — monotone per feature, so resampling
    order within a feature is preserved.

    Scale shape: ONE tokenize+explode pass builds the per-(doc, feature)
    count table, which is the sole input to all three downstream
    aggregations (raw marginals, target marginals via a semi-join with the
    Gopher flags, per-doc scores) — persisted so the explode runs once.
    The ratio table is at most {B} rows — broadcast back into the per-doc
    score join. Feature-hash products stay < 1e15 at this SF; at 100 TB the
    numerator products move to decimal(38,0) unchanged in shape."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    per_doc, ratios = _dsir_substrate(docs)
    return (
        per_doc.join(F.broadcast(ratios), "feat")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("ratio_fixed"))
            .cast("bigint")
            .alias("score_fixed"),
        )
        .select(
            "doc_id",
            "n_grams",
            "score_fixed",
            # truncating integer division BEFORE the float division: the mean
            # can land exactly on a half at the 6th decimal (score/n = x.5
            # micro-units), where Spark's HALF_UP and DuckDB's rounding
            # disagree — flooring to whole micro-units first removes the edge
            # and needs no round() at all.
            (F.expr("score_fixed div n_grams").cast("double") / 1e6).alias(
                "dsir_weight"
            ),
        )
    )


# --------------------------------------------------------------------------
# Bigram-LM predictability: the transcendental-free perplexity proxy
# --------------------------------------------------------------------------


_LM_ORACLE = f"""
    WITH bg AS (
      {_BIGRAM_SQL}
    ), pc AS (
      SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2
    ), mc AS (
      SELECT w1, SUM(c_ab) AS c_a FROM pc GROUP BY w1
    ), pf AS (
      SELECT p.w1, p.w2, (p.c_ab * 1000000) // m.c_a AS p_fixed
      FROM pc p JOIN mc m ON m.w1 = p.w1
    ), scored AS (
      SELECT b.doc_id, COUNT(*) AS n_bigrams,
             SUM(f.p_fixed) AS sum_p_fixed, MIN(f.p_fixed) AS min_p_fixed
      FROM bg b JOIN pf f ON f.w1 = b.w1 AND f.w2 = b.w2
      GROUP BY b.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(sum_p_fixed // n_bigrams AS DOUBLE) / 1000000.0
             AS predictability,
           CAST(min_p_fixed AS DOUBLE) / 1000000.0 AS min_bigram_prob
    FROM scored
    """


@register("docs_lm_predictability", oracle=_LM_ORACLE)
def docs_lm_predictability(spark, sf_dir):
    """Per-document language-model predictability — the transcendental-free
    stand-in for the KenLM perplexity filter of CCNet (Wenzek et al. 2020)
    and the GPT-3 quality pipeline: a bigram LM is fit on the corpus itself
    (conditional probability p(w2|w1) = c(w1,w2)/c(w1·) as an exact
    fixed-point integer, truncating division), and each document scores its
    mean and minimum bigram probability — low mean ⇒ unusual word sequences
    (the high-perplexity tail a perplexity filter would cut), the minimum
    pinpointing the single most surprising transition.

    Scale shape: the (w1,w2) count table is vocabulary²-bounded, its w1
    marginal vocabulary-bounded — both partial-combined aggregations; the
    per-doc scoring joins the doc's bigram instances against the count
    table on the (w1,w2) key and reduces per doc.  The bigram-TYPE table
    grows unboundedly with the corpus (Heaps' law squared) and is a
    string-keyed side — the class the r13 sf30 ladder showed AQE
    mis-sizing into driver-OOM broadcasts — so the join is pinned
    shuffle_hash (r13 audit; r6 rule bans the broadcast hint, the sf30
    evidence bans the unhinted AQE broadcast too).  One tokenize pass,
    persisted across the count and score consumers."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bg = _doc_bigrams(docs)  # persisted + memoized inside
    pc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    mc = pc.groupBy("w1").agg(F.sum("c_ab").alias("c_a"))
    pf = pc.join(mc.hint("shuffle_hash"), "w1").select(
        "w1", "w2", F.expr("(c_ab * 1000000) div c_a").alias("p_fixed")
    )
    return (
        bg.join(pf.hint("shuffle_hash"), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("p_fixed").alias("_sum_p"),
            F.min("p_fixed").alias("_min_p"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            # floor to whole micro-units before the float division (same
            # half-edge reasoning as docs_dsir_weights): no round() call, so
            # no engine-dependent half behavior exists anywhere in the query.
            (F.expr("_sum_p div n_bigrams").cast("double") / 1e6).alias(
                "predictability"
            ),
            (F.col("_min_p").cast("double") / 1e6).alias("min_bigram_prob"),
        )
    )


# --------------------------------------------------------------------------
# int8 scalar quantization of the embedding column
# --------------------------------------------------------------------------

_QNT_DIM = 64


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id AS vid, CAST(i AS INTEGER) AS comp,
             CAST(round(embedding[i + 1]::DOUBLE * 1000000.0) AS BIGINT) AS x
      FROM embeddings, unnest(range({_QNT_DIM})) AS u(i)
    ), st AS (
      SELECT comp, MIN(x) AS mn, greatest(MAX(x) - MIN(x), 1) AS span
      FROM comp GROUP BY comp
    ), q AS (
      SELECT c.vid,
             ((c.x - s.mn) * 255) // s.span AS code,
             255 * c.x - (255 * s.mn + (((c.x - s.mn) * 255) // s.span) * s.span)
               AS err255
      FROM comp c JOIN st s ON s.comp = c.comp
    )
    SELECT vid AS vec_id,
           CAST(SUM(err255 * err255) AS BIGINT) AS err_fixed,
           CAST(MIN(code) AS INTEGER) AS min_code,
           CAST(MAX(code) AS INTEGER) AS max_code,
           round(CAST(SUM(err255 * err255) AS DOUBLE)
                 / {_QNT_DIM} / 65025.0 / 1000000000000.0, 6) AS quant_mse
    FROM q GROUP BY vid
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Per-dimension int8 scalar quantization of the embedding column — the
    storage tier below PQ (and the form embedding stores actually ship):
    each dimension's [min, max] range over the corpus maps to codes 0..255
    by truncating integer division, and the per-vector reconstruction error
    is computed EXACTLY in scaled integers (err₂₅₅ = 255·x − recon is the
    residual in 1/255-micro units, so Σ err₂₅₅² is an exact bigint and the
    reported MSE one rounded division). min/max code per vector double as a
    range proof (codes stay within 0..255).

    Scale shape: the per-dimension stats are ONE partial-combined
    aggregation onto dim rows — broadcast back into a pure projection; no
    other shuffle exists, so the op is two corpus scans' worth of work
    (stats + encode) regardless of corpus size, and the component substrate
    is the shared persisted table the ANN family already materializes."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    comp = similarity.component_rows(emb, 1, _QNT_DIM)
    st = comp.groupBy("comp").agg(
        F.min("x").alias("mn"),
        F.greatest(F.max("x") - F.min("x"), F.lit(1)).alias("span"),
    )
    code = F.expr("((x - mn) * 255) div span")
    q = comp.join(F.broadcast(st), "comp").select(
        "vid",
        code.alias("code"),
        (
            F.lit(255) * F.col("x")
            - (F.lit(255) * F.col("mn") + code * F.col("span"))
        ).alias("err255"),
    )
    return q.groupBy("vid").agg(
        F.sum(F.col("err255") * F.col("err255")).cast("bigint").alias("err_fixed"),
        F.min("code").cast("int").alias("min_code"),
        F.max("code").cast("int").alias("max_code"),
        F.round(
            F.sum(F.col("err255") * F.col("err255")).cast("double")
            / _QNT_DIM
            / 65025.0
            / 1e12,
            6,
        ).alias("quant_mse"),
    ).select(
        F.col("vid").alias("vec_id"),
        "err_fixed",
        "min_code",
        "max_code",
        "quant_mse",
    )


# --------------------------------------------------------------------------
# MinHash estimator accuracy vs exact Jaccard (evaluation harness)
# --------------------------------------------------------------------------

_ACC_K = 16
_ACC_BANDS = 4
_ACC_N = 3


def _minhash_accuracy_oracle(
    k: int = _ACC_K, bands: int = _ACC_BANDS, n: int = _ACC_N
) -> str:
    rows = k // bands
    p = dedup.MINHASH_PRIME
    mins = ",\n         ".join(
        f"MIN((hm * {a} + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(dedup.minhash_params(k))
    )
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_id, md5("
        + " || ',' || ".join(
            f"CAST(m{i} AS VARCHAR)" for i in range(b * rows, (b + 1) * rows)
        )
        + ") AS band_hash FROM sigs"
        for b in range(bands)
    )
    matches = " + ".join(
        f"CAST(sa.m{i} = sb.m{i} AS INTEGER)" for i in range(k)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) >= {n}
             THEN list_transform(range(len(t) - {n - 1}), i -> array_to_string(t[i+1:i+{n}], ' '))
             ELSE [array_to_string(t, ' ')] END) AS shingle
      FROM toks
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS hraw FROM sh
    ), hm AS (
      SELECT doc_id, hraw % {p} AS hm FROM h
    ), sigs AS (
      SELECT doc_id, {mins} FROM hm GROUP BY doc_id
    ), banded AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ), est AS (
      SELECT c.doc_a, c.doc_b, {matches} AS n_sig_match
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    ), hs AS (
      SELECT DISTINCT doc_id, hraw AS hx FROM h
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS nsz FROM hs GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN hs sa ON sa.doc_id = c.doc_a
      JOIN hs sb ON sb.doc_id = c.doc_b AND sb.hx = sa.hx
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, n_sig_match,
           CAST(est_fixed AS DOUBLE) / 1000000.0 AS est_jaccard,
           CAST(jac_fixed AS DOUBLE) / 1000000.0 AS jaccard,
           CAST(ABS(est_fixed - jac_fixed) AS DOUBLE) / 1000000.0 AS abs_err
    FROM (
      SELECT e.doc_a, e.doc_b,
             CAST(e.n_sig_match AS INTEGER) AS n_sig_match,
             e.n_sig_match * ({1_000_000 // k}) AS est_fixed,
             (COALESCE(i.n_inter, 0) * 1000000)
               // (za.nsz + zb.nsz - COALESCE(i.n_inter, 0)) AS jac_fixed
      FROM est e
      JOIN sizes za ON za.doc_id = e.doc_a
      JOIN sizes zb ON zb.doc_id = e.doc_b
      LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    )
    """


@register("dedup_minhash_accuracy", oracle=_minhash_accuracy_oracle())
def dedup_minhash_accuracy(spark, sf_dir):
    """Estimator-accuracy harness for the MinHash family: for every LSH
    candidate pair, the signature-estimated Jaccard (matching minhashes / k
    — k=16 makes the estimate an exact binary fraction) is laid against the
    EXACT shingle Jaccard and the absolute error — the same
    measure-don't-guess evaluation knn_ivf_pq_recall gives the ANN index,
    closing the loop on the k/bands sensitivity the r1 survey called out.

    Scale shape: signatures and band-bucket candidates are the production
    dedup path (one explode + partial-agg signatures, bucket equi-join);
    the estimate is a k-column comparison on the pair spine; the exact side
    reuses the single-pass pair-Jaccard shape of dedup.jaccard_similarity —
    all work linear in candidate volume, never corpus²."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sigs = dedup.minhash_signatures(docs, k=_ACC_K, n=_ACC_N)
    cand = dedup.lsh_candidate_pairs(sigs, bands=_ACC_BANDS, rows_per_band=_ACC_K // _ACC_BANDS)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(_ACC_K)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(_ACC_K)]
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_ACC_K)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_match.cast("int").alias("n_sig_match"))
    )
    # Exact pair Jaccard in FIXED POINT (truncating micro-units) — the
    # single-pass shape of dedup.jaccard_similarity, minus its round(): with
    # union = 128 and odd intersection the true value is an exact half at
    # the 6th decimal, where engine round() behaviors diverge. No round()
    # appears anywhere in this query.
    # identical to the PPJoin family's persisted substrate (_ACC_N == 3,
    # default text column) — ride it instead of re-running explode+distinct
    from kafka_sink_spark.plans.analytics_assoc import _distinct_shingles

    sh = _distinct_shingles(spark, sf_dir)
    sides = cand.select(
        "doc_a", "doc_b",
        F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc_id"),
    )
    per_hash = (
        sides.join(sh, "doc_id")
        .select(
            "doc_a", "doc_b", "h",
            (F.col("doc_id") == F.col("doc_a")).cast("int").alias("in_a"),
            (F.col("doc_id") == F.col("doc_b")).cast("int").alias("in_b"),
        )
        .groupBy("doc_a", "doc_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    stats = per_hash.groupBy("doc_a", "doc_b").agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
        F.sum("in_a").alias("size_a"),
        F.sum("in_b").alias("size_b"),
    )
    fixed = (
        est.join(stats, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "n_sig_match",
            (F.col("n_sig_match") * F.lit(1_000_000 // _ACC_K)).alias("est_fixed"),
            F.expr(
                "(n_inter * 1000000) div (size_a + size_b - n_inter)"
            ).alias("jac_fixed"),
        )
    )
    return fixed.select(
        "doc_a",
        "doc_b",
        "n_sig_match",
        (F.col("est_fixed").cast("double") / 1e6).alias("est_jaccard"),
        (F.col("jac_fixed").cast("double") / 1e6).alias("jaccard"),
        (F.abs(F.col("est_fixed") - F.col("jac_fixed")).cast("double") / 1e6).alias(
            "abs_err"
        ),
    )


# --------------------------------------------------------------------------
# The composed round-6 curation pipeline (capstone)
# --------------------------------------------------------------------------


def _curation_v2_oracle() -> str:
    from kafka_sink_spark.plans.analytics_quality import _survivors_oracle

    return f"""
    WITH surv AS (
      SELECT doc_id FROM ({_survivors_oracle()})
    ), gop AS (
      SELECT doc_id FROM ({_GOPHER_ORACLE}) WHERE ok_all = 1
    ), dw AS (
      SELECT doc_id, dsir_weight FROM ({_dsir_oracle()})
    ), lm AS (
      SELECT doc_id, predictability FROM ({_LM_ORACLE})
    )
    SELECT d.doc_id, d.source, dw.dsir_weight, lm.predictability
    FROM documents d
    JOIN surv USING (doc_id)
    JOIN gop USING (doc_id)
    JOIN dw USING (doc_id)
    JOIN lm USING (doc_id)
    """


@register("pipeline_curation_v2", oracle=_curation_v2_oracle())
def pipeline_curation_v2(spark, sf_dir):
    """The composed end-to-end curation pipeline with the round-6 signal
    stack — what a training-data run actually chains: MinHash near-dup
    removal (cluster survivors only) ∧ Gopher word-level quality gate, then
    each surviving doc annotated with its DSIR importance weight (the
    resampling probability) and bigram-LM predictability (the perplexity
    gate's score). pipeline_training_data is the v1 of this shape
    (profile → filter → exact dedup); v2 swaps in the published selection
    machinery.

    Scale shape: a conjunction of independently scale-audited subplans
    joined on the doc_id spine — survivors' anti-join scales with duplicate
    volume, the Gopher gate is projection-only, DSIR/LM are single-explode
    + broadcast-stats pipelines; the final joins are equi on doc_id. The
    subplans' shared tokenize substrates are persisted inside their
    builders, so composition does not multiply corpus scans."""
    from kafka_sink_spark.plans.analytics_quality import _SURV_THRESHOLD

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    surv = dedup.dedup_survivors(docs, threshold=_SURV_THRESHOLD).select("doc_id")
    gop = (
        text.gopher_flags(docs, **_GOPHER)
        .filter(F.col("ok_all") == 1)
        .select("doc_id")
    )
    dw = docs_dsir_weights(spark, sf_dir).select("doc_id", "dsir_weight")
    lm = docs_lm_predictability(spark, sf_dir).select("doc_id", "predictability")
    return (
        docs.select("doc_id", "source")
        .join(surv, "doc_id")
        .join(gop, "doc_id")
        .join(dw, "doc_id")
        .join(lm, "doc_id")
    )
