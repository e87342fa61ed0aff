"""Round-10d wave: lexical retrieval, link analysis, model validation,
and observational causal effect — four more published techniques in the
catalog's exact-integer, oracle-twinned style.

- ``docs_bm25_topk``  BM25 ranked retrieval (Robertson et al., TREC-3;
  the Lucene idf variant ln(1 + (N−df+0.5)/(df+0.5)), which collapses to
  the always-positive rational (2N+2)/(2df+1)): the top-10 documents for
  a fixed 3-term query, with k1 = 1.2 and b = 0.75 carried as the exact
  rationals 6/5 and 3/4 so the saturation term clears to
  44·tf·T / (20·tf·T + 6·T + 18·dl·N) — pure integers at any corpus
  size (decimal(38) products), idf on the octave-log2 ladder with
  SINGLE-count arguments.  THE lexical scoring baseline every hybrid
  (BM25 + dense) retrieval stack starts from; the dense side already
  lives in the knn family.
- ``parts_hits_authority``  HITS hubs & authorities (Kleinberg, JACM
  1999) on the supplier→part supply bipartite graph (two mutual-
  reinforcement rounds from the uniform start: a¹ = in-degree,
  h¹ = Σ a¹, a² = Σ h¹): top-15 hub suppliers and top-15 authority
  parts with EXACT integer scores (no normalization until the final
  ppm-of-max readout).  PageRank's bipartite sibling — the catalog had
  eigenvector-style ranking only for the co-purchase projection.
- ``lineitem_kfold_cv``  K-fold cross-validation (Stone 1974) of the
  per-quantity-group mean price predictor, K = 5 content-hash folds:
  each fold's fit is the CLOSED FORM (S_g − S_gf) div (n_g − n_gf) — no
  per-fold re-scan — and the readout is per-fold and pooled test MSE in
  exact integer dollars².  The validation twin of
  ``lineitem_conformal_interval``'s coverage audit.
- ``events_cem_att``  Coarsened Exact Matching ATT (Iacus, King &
  Porro, Political Analysis 2012): treatment = 'purchase' events,
  control = 'view' events, coarsening = the (ISO weekday × hour) grid;
  unmatched strata are pruned (the CEM step that bounds imbalance) and
  the average treatment effect on the treated is the stratum-weighted
  mean outcome difference in micro-cents, every division sign-split
  truncating.  The catalog's first observational-causal estimator
  (events_ab_test and events_cuped_* are randomized-experiment tools).

Determinism per the package convention: integer arithmetic end-to-end,
sign-split truncating division on signed sums, octave-log2 ppm-bits with
single-count arguments, md5 fold assignment, ties broken on ids.

Reference anchor: datastax/kafka-sink has no analytics surface
(sink/src/main is record mapping + DSE writes, SURVEY.md §2); this module
extends COVERAGE.md's retrieval / graph / evaluation / causal families.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.extensions import text
from kafka_sink_spark.plans.analytics_readability import _DUCK_LOG2, _SPARK_LOG2
from kafka_sink_spark.plans.queries import register
from kafka_sink_spark.session import load_tables

_DEC = "CAST({} AS DECIMAL(38,0))"

# --------------------------------------------------------------------------
# BM25 top-k retrieval
# --------------------------------------------------------------------------

_BM25_TERMS = ("dup", "spark", "join")  # one rare term, two common
_BM25_K = 10


def _bm25_sc_ctes() -> str:
    """The arr→d→z→sc CTE chain producing BM25 scores per document —
    shared by the top-k oracle and the hybrid-RRF oracle so the scoring
    formula can never drift between the two."""
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(t, x -> x = '{term}')) AS BIGINT) AS tf{i}"
        for i, term in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    idf = {
        i: f"({_DUCK_LOG2.format(x='(2 * z.n + 2)')}"
        f" - {_DUCK_LOG2.format(x=f'(2 * z.df{i} + 1)')})"
        for i in range(len(_BM25_TERMS))
    }
    tfc = {
        i: f"(44::HUGEINT * tf{i} * z.T * 1000000"
        f" // (20::HUGEINT * tf{i} * z.T + 6::HUGEINT * z.T"
        f" + 18::HUGEINT * dl * z.n))"
        for i in range(len(_BM25_TERMS))
    }
    score = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN"
        f" CAST(({idf[i]}::HUGEINT * {tfc[i]}) // 1000000 AS BIGINT)"
        f" ELSE 0 END)"
        for i in range(len(_BM25_TERMS))
    )
    nt = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(_BM25_TERMS))
    )
    return rf"""arr AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), d AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
             {tf_cols}
      FROM arr
    ), z AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS T, CAST(COUNT(*) AS BIGINT) AS n,
             {df_cols}
      FROM d
    ), sc AS (
      SELECT doc_id, dl, ({score}) AS score,
             CAST({nt} AS INTEGER) AS n_terms
      FROM d, z
    )"""


def _bm25_oracle() -> str:
    return f"""
    WITH {_bm25_sc_ctes()}, top AS (
      SELECT * FROM sc WHERE n_terms > 0
      ORDER BY score DESC, doc_id LIMIT {_BM25_K}
    )
    SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
             AS rank,
           doc_id, CAST(dl AS BIGINT) AS dl,
           CAST(score AS BIGINT) AS score_micro_bits, n_terms
    FROM top
    """


# The full-corpus BM25 scored table is read by docs_bm25_topk, the exact
# hybrid (docs_hybrid_rrf) and — through it — the hybrid-recall composition:
# three consumers, each of which would otherwise re-run the tokenize +
# per-term tf corpus pass. Persist + memoize per (session, sf_dir), same
# discipline as _kn_scored/_cls_scored.
@substrates.memo
def _bm25_scored(spark, sf_dir):
    """(doc_id, dl, score, n_terms) BM25 scores per document — the Spark
    twin of the ``_bm25_sc_ctes`` oracle chain, shared by the top-k query
    and the hybrid-RRF fusion.  Persisted + memoized per (session, sf_dir)
    — see the comment above."""
    from pyspark import StorageLevel

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    staged = docs.select("doc_id", text.tokens(F.col("text")).alias("_t"))

    def _tf(term):
        # single-arg lambda: a two-parameter lambda would select pyspark's
        # (element, index) filter form and bind the term to the index
        return F.size(F.filter(F.col("_t"), lambda x: x == F.lit(term)))

    d = staged.select(
        "doc_id",
        F.size("_t").cast("long").alias("dl"),
        *[
            _tf(term).cast("long").alias(f"tf{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    )
    z = d.agg(
        F.sum("dl").cast("long").alias("T"),
        F.count("*").cast("long").alias("n"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    idf = {
        i: f"({_SPARK_LOG2.format(x='(2 * n + 2)')}"
        f" - {_SPARK_LOG2.format(x=f'(2 * df{i} + 1)')})"
        for i in range(len(_BM25_TERMS))
    }
    tfc = {
        i: f"(CAST(44 AS DECIMAL(38,0)) * tf{i} * T * 1000000"
        f" div (CAST(20 AS DECIMAL(38,0)) * tf{i} * T"
        f" + CAST(6 AS DECIMAL(38,0)) * T"
        f" + CAST(18 AS DECIMAL(38,0)) * dl * n))"
        for i in range(len(_BM25_TERMS))
    }
    score = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN"
        f" CAST(({_DEC.format(idf[i])} * {tfc[i]}) div 1000000 AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i in range(len(_BM25_TERMS))
    )
    nt = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(_BM25_TERMS))
    )
    out = (
        d.crossJoin(F.broadcast(z))
        .select(
            "doc_id",
            "dl",
            F.expr(score).alias("score"),
            F.expr(f"CAST({nt} AS INT)").alias("n_terms"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return out


@register("docs_bm25_topk", oracle=_bm25_oracle())
def docs_bm25_topk(spark, sf_dir):
    """BM25 top-{k} retrieval (Robertson, TREC-3) for the fixed query
    {terms} with the Lucene idf ln(1 + (N−df+0.5)/(df+0.5)) =
    lg((2N+2)/(2df+1)) on the octave-log2 ladder (ppm-bits, single-count
    arguments — nothing overflows at any corpus size) and the k1 = 1.2,
    b = 0.75 saturation term cleared to the exact integer rational
    44·tf·T / (20·tf·T + 6·T + 18·dl·N) (ppm, decimal(38) products,
    T = corpus tokens, dl = document length).  Per-term contribution is
    idf·tfc div 1e6 micro-bits; documents matching no query term are
    dropped; ranking is (score desc, doc_id).

    Scale shape: ONE zero-shuffle projection computes dl and the
    per-term tf columns in the same pass (no (doc, term) explode
    shuffle); df/T/N are one broadcast scalar row; the top-{k} is a
    global ORDER BY LIMIT (TakeOrderedAndProject — O(k) per task) and
    the rank window runs over those {k} rows only.
    """
    sc = _bm25_scored(spark, sf_dir).filter(F.col("n_terms") > 0)
    top = sc.orderBy(F.col("score").desc(), F.col("doc_id")).limit(_BM25_K)
    rw = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(rw).cast("int").alias("rank"),
        "doc_id",
        F.col("dl").cast("long").alias("dl"),
        F.col("score").cast("long").alias("score_micro_bits"),
        "n_terms",
    )


docs_bm25_topk.__doc__ = docs_bm25_topk.__doc__.format(
    k=_BM25_K, terms=_BM25_TERMS
)


# --------------------------------------------------------------------------
# HITS hubs & authorities on the supplier→part bipartite graph
# --------------------------------------------------------------------------

_HITS_TOP = 15

_HITS_ORACLE = f"""
    WITH edges AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), a1 AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS a FROM edges GROUP BY p
    ), h1 AS (
      SELECT e.s, CAST(SUM(a1.a) AS HUGEINT) AS h
      FROM edges e JOIN a1 ON a1.p = e.p GROUP BY e.s
    ), a2 AS (
      SELECT e.p, CAST(SUM(h1.h) AS HUGEINT) AS a
      FROM edges e JOIN h1 ON h1.s = e.s GROUP BY e.p
    ), hubs AS (
      SELECT 'hub' AS node_type, s AS node_id, h AS score,
             row_number() OVER (ORDER BY h DESC, s) AS rk,
             MAX(h) OVER () AS mx
      FROM h1
    ), auths AS (
      SELECT 'authority' AS node_type, p AS node_id, a AS score,
             row_number() OVER (ORDER BY a DESC, p) AS rk,
             MAX(a) OVER () AS mx
      FROM a2
    ), u AS (
      SELECT * FROM hubs WHERE rk <= {_HITS_TOP}
      UNION ALL
      SELECT * FROM auths WHERE rk <= {_HITS_TOP}
    )
    SELECT node_type, CAST(node_id AS BIGINT) AS node_id,
           CAST(rk AS INTEGER) AS rank,
           CAST(score AS BIGINT) AS score,
           CAST(score * 1000000 // mx AS BIGINT) AS score_ppm
    FROM u
    """


@register("parts_hits_authority", oracle=_HITS_ORACLE)
def parts_hits_authority(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1999) on the supplier→part
    supply bipartite graph (an edge when a supplier ever shipped the
    part): two mutual-reinforcement rounds from the uniform start —
    a¹(p) = in-degree, h¹(s) = Σ_p∈s a¹(p), a²(p) = Σ_s∋p h¹(s) — kept
    as EXACT integers (decimal(38) sums; no normalization inside the
    iteration, because HITS ranking is scale-invariant), with the final
    readout the top-{top} hubs and top-{top} authorities and their
    ppm-of-max scores.  PageRank answers "centrality in the co-purchase
    projection"; HITS answers the bipartite question directly — which
    suppliers span the influential parts, which parts are supplied by
    the influential suppliers.

    Scale shape: edge dedup is one shuffle on (s, p); each half-round is
    a key-partitioned join + partial-combined sum (a¹ is broadcast-sized
    per part batch, h¹ per supplier), so two rounds cost four exchanges
    total, all on graph keys — never an all-pairs stage; the top-{top}
    windows are per-type rank readouts over node-count tables.
    """
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    a1 = edges.groupBy("p").agg(F.count("*").cast("long").alias("a"))
    h1 = (
        edges.join(a1, "p")
        .groupBy("s")
        .agg(F.sum(F.expr(_DEC.format("a"))).alias("h"))
    )
    a2 = (
        edges.join(h1, "s")
        .groupBy("p")
        .agg(F.sum("h").alias("a"))
    )
    # global top-K via ORDER BY + LIMIT (TakeOrderedAndProject, O(k) per
    # task) — node tables grow with SF, so a single-partition rank window
    # over them would be a scale hazard; the rank window runs over the K
    # limited rows only, and max-score arrives as a broadcast scalar.
    hmx = h1.agg(F.max("h").alias("mx"))
    amx = a2.agg(F.max("a").alias("mx"))
    htop = h1.orderBy(F.col("h").desc(), F.col("s")).limit(_HITS_TOP)
    atop = a2.orderBy(F.col("a").desc(), F.col("p")).limit(_HITS_TOP)
    hw = Window.orderBy(F.col("h").desc(), F.col("s"))
    aw = Window.orderBy(F.col("a").desc(), F.col("p"))
    hubs = htop.select(
        F.lit("hub").alias("node_type"),
        F.col("s").cast("long").alias("node_id"),
        F.row_number().over(hw).cast("int").alias("rank"),
        F.col("h").alias("score"),
    ).crossJoin(F.broadcast(hmx))
    auths = atop.select(
        F.lit("authority").alias("node_type"),
        F.col("p").cast("long").alias("node_id"),
        F.row_number().over(aw).cast("int").alias("rank"),
        F.col("a").alias("score"),
    ).crossJoin(F.broadcast(amx))
    return hubs.unionByName(auths).select(
        "node_type",
        "node_id",
        "rank",
        F.col("score").cast("long").alias("score"),
        F.expr("CAST(score * 1000000 div mx AS BIGINT)").alias("score_ppm"),
    )


parts_hits_authority.__doc__ = parts_hits_authority.__doc__.format(
    top=_HITS_TOP
)


# --------------------------------------------------------------------------
# K-fold cross-validation of the group-mean predictor
# --------------------------------------------------------------------------

_CV_K = 5

_CV_SPLIT = (
    "('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||"
    f" CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % {_CV_K}"
)

_CV_ORACLE = f"""
    WITH rows_s AS (
      SELECT CAST(l_quantity AS BIGINT) AS grp,
             CAST(FLOOR(l_extendedprice) AS BIGINT) AS y,
             {_CV_SPLIT} AS fold
      FROM lineitem
    ), gf AS (
      SELECT grp, fold, CAST(COUNT(*) AS BIGINT) AS nf,
             CAST(SUM(y) AS BIGINT) AS sf
      FROM rows_s GROUP BY grp, fold
    ), g AS (
      SELECT grp, CAST(SUM(nf) AS BIGINT) AS n, CAST(SUM(sf) AS BIGINT) AS s
      FROM gf GROUP BY grp
    ), fit AS (
      SELECT gf.grp, gf.fold, gf.nf,
             CAST((g.s - gf.sf) // (g.n - gf.nf) AS BIGINT) AS yhat
      FROM gf JOIN g ON g.grp = gf.grp
    ), err AS (
      SELECT r.fold,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM((r.y - f.yhat)::HUGEINT * (r.y - f.yhat)) AS HUGEINT)
               AS sse
      FROM rows_s r JOIN fit f ON f.grp = r.grp AND f.fold = r.fold
      GROUP BY r.fold
    )
    SELECT CAST(fold AS VARCHAR) AS fold, n_test,
           CAST(sse AS BIGINT) AS sse_dollars2,
           CAST(sse * 1000000 // n_test AS BIGINT) AS mse_micro
    FROM err
    UNION ALL
    SELECT '*', CAST(SUM(n_test) AS BIGINT),
           CAST(SUM(sse) AS BIGINT),
           CAST(SUM(sse) * 1000000 // SUM(n_test) AS BIGINT)
    FROM err
    """


@register("lineitem_kfold_cv", oracle=_CV_ORACLE)
def lineitem_kfold_cv(spark, sf_dir):
    """{k}-fold cross-validation (Stone 1974) of the per-quantity-group
    mean price predictor on content-hash folds: each (group, fold) cell
    is aggregated ONCE and every fold's leave-fold-out fit is the closed
    form (S_g − S_gf) div (n_g − n_gf) — the algebra that makes K-fold
    cost one scan instead of K.  Readout: per-fold and pooled ('*') test
    MSE in exact integer dollars² (truncating division on non-negative
    operands only).  Complements lineitem_conformal_interval: conformal
    audits coverage of ONE split, CV audits the predictor's error
    stability across all {k}.

    Scale shape: ONE partial-combined three-moment aggregate onto the
    bounded (quantity × fold) grid — count, Σy and Σy² per cell make the
    test SSE the exact cell identity Σy² − 2·ŷ·Σy + n·ŷ², so no second
    corpus pass re-joins rows to the fit; the leave-fold-out fit and the
    readout are grid-sized.
    """
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    rows = li.select(
        F.expr("CAST(l_quantity AS BIGINT)").alias("grp"),
        F.expr("CAST(FLOOR(l_extendedprice) AS BIGINT)").alias("y"),
        (
            text.md5_long(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % _CV_K
        ).alias("fold"),
    )
    # The (grp, fold) cells carry the THREE moments (count, Σy, Σy²), so
    # the per-fold SSE is the exact cell-level identity
    # Σ(y − ŷ)² = Σy² − 2·ŷ·Σy + n·ŷ² (ŷ constant per cell, all integer
    # DECIMAL arithmetic) — one corpus aggregation total, no second scan
    # re-joining rows to the fit (guide §2.3: aggregate before you
    # shuffle; the old probe join re-read + re-hashed lineitem).
    gf = rows.groupBy("grp", "fold").agg(
        F.count("*").cast("long").alias("nf"),
        F.sum("y").cast("long").alias("sf"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("qf"),
    )
    g = gf.groupBy("grp").agg(
        F.sum("nf").cast("long").alias("n"),
        F.sum("sf").cast("long").alias("s"),
    )
    cells = gf.join(g, "grp").select(
        "fold",
        "nf",
        "sf",
        "qf",
        F.expr("CAST((s - sf) div (n - nf) AS BIGINT)").alias("yhat"),
    )
    # grid-sized rows feed both union branches (per-fold + pooled '*'):
    # persist so the corpus aggregation executes once (guide §7.2)
    from pyspark import StorageLevel

    err = (
        cells.groupBy("fold")
        .agg(
            F.sum("nf").cast("long").alias("n_test"),
            F.sum(
                F.expr(
                    "qf - 2 * CAST(yhat AS DECIMAL(38,0)) * sf"
                    " + CAST(nf AS DECIMAL(38,0)) * yhat * yhat"
                )
            ).alias("sse"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per = err.select(
        F.col("fold").cast("string").alias("fold"),
        "n_test",
        F.col("sse").cast("long").alias("sse_dollars2"),
        F.expr("CAST(sse * 1000000 div n_test AS BIGINT)").alias("mse_micro"),
    )
    pooled = err.agg(
        F.sum("n_test").cast("long").alias("n_test"),
        F.sum("sse").alias("sse"),
    ).select(
        F.lit("*").alias("fold"),
        "n_test",
        F.col("sse").cast("long").alias("sse_dollars2"),
        F.expr("CAST(sse * 1000000 div n_test AS BIGINT)").alias("mse_micro"),
    )
    return per.unionByName(pooled)


lineitem_kfold_cv.__doc__ = lineitem_kfold_cv.__doc__.format(k=_CV_K)


# --------------------------------------------------------------------------
# Coarsened Exact Matching ATT
# --------------------------------------------------------------------------

# sign-split truncating division: both engines truncate toward zero on
# the same non-negative operands
_SS_DIV_SPARK = (
    "CAST(CASE WHEN {num} >= 0 THEN ({num}) div ({den})"
    " ELSE -((-({num})) div ({den})) END AS BIGINT)"
)
_SS_DIV_DUCK = (
    "CAST(CASE WHEN {num} >= 0 THEN ({num}) // ({den})"
    " ELSE -((-({num})) // ({den})) END AS BIGINT)"
)

_CEM_ORACLE = f"""
    WITH base AS (
      SELECT isodow(CAST(ts AS DATE)) AS dow,
             CAST(hour(ts) AS BIGINT) AS hod,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tr,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('purchase', 'view')
    ), bins AS (
      SELECT dow, hod,
             CAST(SUM(tr) AS BIGINT) AS n_t,
             CAST(COUNT(*) - SUM(tr) AS BIGINT) AS n_c,
             CAST(SUM(CASE WHEN tr = 1 THEN cents ELSE 0 END) AS BIGINT)
               AS s_t,
             CAST(SUM(CASE WHEN tr = 0 THEN cents ELSE 0 END) AS BIGINT)
               AS s_c
      FROM base GROUP BY dow, hod
    ), m AS (
      SELECT dow, hod, n_t, n_c,
             CASE WHEN n_t > 0 AND n_c > 0 THEN 1 ELSE 0 END AS matched,
             CASE WHEN n_t > 0 AND n_c > 0 THEN
               (s_t::HUGEINT * n_c - n_t::HUGEINT * s_c) * 1000000
             ELSE 0::HUGEINT END AS contrib_num,
             CASE WHEN n_t > 0 AND n_c > 0 THEN n_c ELSE 1 END AS contrib_den
      FROM bins
    ), pb AS (
      SELECT dow, hod, n_t, n_c, matched,
             {_SS_DIV_DUCK.format(num="contrib_num", den="contrib_den::HUGEINT * greatest(n_t, 1)")}
               AS diff_micro,
             {_SS_DIV_DUCK.format(num="contrib_num", den="contrib_den")}
               AS contrib_micro
      FROM m
    )
    SELECT CAST(dow AS BIGINT) AS dow, hod, n_t AS n_treated,
           n_c AS n_control, CAST(matched AS INTEGER) AS matched,
           diff_micro
    FROM pb
    UNION ALL
    SELECT -1, -1, CAST(SUM(n_t * matched) AS BIGINT),
           CAST(SUM(n_c * matched) AS BIGINT),
           CAST(SUM(matched) AS INTEGER),
           {_SS_DIV_DUCK.format(num="SUM(contrib_micro * matched)", den="SUM(n_t * matched)")}
    FROM pb
    """


@register("events_cem_att", oracle=_CEM_ORACLE)
def events_cem_att(spark, sf_dir):
    """Coarsened Exact Matching ATT (Iacus, King & Porro 2012):
    treatment = 'purchase' events, control = 'view' events, coarsening =
    the bounded (ISO weekday × hour) grid; strata missing either arm are
    PRUNED (matched = 0 — CEM's imbalance-bounding step) and the average
    treatment effect on the treated is the treated-weighted mean outcome
    difference over matched strata, Σ_b n_tb·(ȳ_tb − ȳ_cb) / Σ_b n_tb,
    computed exactly by cross-multiplication (per-stratum numerator
    (S_t·n_c − n_t·S_c)·1e6, one documented sign-split truncating
    division per stratum in micro-cents).  Per-stratum rows expose the
    matched census; the (-1, -1) row is the ATT.

    Scale shape: ONE partial-combined aggregate onto the 7×24 grid is
    the only corpus-sized work; matching, pruning, and the ATT rollup
    are grid-sized arithmetic.  No per-unit pairing exists at any scale
    — CEM matches strata, not rows, which is exactly why it survives
    100 TB while nearest-neighbor matching does not.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    base = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        F.expr("weekday(CAST(ts AS DATE)) + 1").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("tr"),
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"),
    )
    bins = base.groupBy("dow", "hod").agg(
        F.sum("tr").cast("long").alias("n_t"),
        (F.count("*") - F.sum("tr")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("tr") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_t"),
        F.sum(F.when(F.col("tr") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_c"),
    )
    m = bins.select(
        "dow",
        "hod",
        "n_t",
        "n_c",
        F.expr(
            "CASE WHEN n_t > 0 AND n_c > 0 THEN 1 ELSE 0 END"
        ).alias("matched"),
        F.expr(
            "CASE WHEN n_t > 0 AND n_c > 0 THEN"
            f" ({_DEC.format('s_t')} * n_c - {_DEC.format('n_t')} * s_c)"
            " * 1000000"
            " ELSE CAST(0 AS DECIMAL(38,0)) END"
        ).alias("contrib_num"),
        F.expr(
            "CAST(CASE WHEN n_t > 0 AND n_c > 0 THEN n_c ELSE 1 END"
            " AS BIGINT)"
        ).alias("contrib_den"),
    )
    pb = m.select(
        "dow",
        "hod",
        "n_t",
        "n_c",
        "matched",
        F.expr(
            _SS_DIV_SPARK.format(
                num="contrib_num",
                den=f"{_DEC.format('contrib_den')} * greatest(n_t, 1)",
            )
        ).alias("diff_micro"),
        F.expr(
            _SS_DIV_SPARK.format(num="contrib_num", den="contrib_den")
        ).alias("contrib_micro"),
    )
    per = pb.select(
        F.col("dow").cast("long").alias("dow"),
        "hod",
        F.col("n_t").alias("n_treated"),
        F.col("n_c").alias("n_control"),
        F.col("matched").cast("int").alias("matched"),
        "diff_micro",
    )
    att = pb.agg(
        F.sum(F.col("n_t") * F.col("matched")).cast("long").alias("n_treated"),
        F.sum(F.col("n_c") * F.col("matched")).cast("long").alias("n_control"),
        F.sum("matched").cast("int").alias("matched"),
        F.sum(F.col("contrib_micro") * F.col("matched")).alias("_cn"),
    ).select(
        F.lit(-1).cast("long").alias("dow"),
        F.lit(-1).cast("long").alias("hod"),
        "n_treated",
        "n_control",
        "matched",
        F.expr(
            _SS_DIV_SPARK.format(num="_cn", den="n_treated")
        ).alias("diff_micro"),
    )
    return per.unionByName(att)


# --------------------------------------------------------------------------
# Dirichlet-smoothed query-likelihood retrieval
# --------------------------------------------------------------------------

_QLM_TERMS = ("slow", "hash", "the")
_QLM_MU = 2000  # Zhai & Lafferty's Dirichlet prior
_QLM_K = 10
_QLM_SCALE = 1_000_000_000  # corpus probabilities staged as ppb integers


def _qlm_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(t, x -> x = '{term}')) AS BIGINT) AS tf{i}"
        for i, term in enumerate(_QLM_TERMS)
    )
    cf_cols = ",\n             ".join(
        f"CAST(SUM(tf{i}) AS BIGINT) AS cf{i}"
        for i in range(len(_QLM_TERMS))
    )
    # staged corpus probabilities: p_ppb = cf·1e9 // T (bounded, one per
    # scalar row — the ratio convention, never a count·count log argument)
    p_cols = ", ".join(
        f"CAST(cf{i} * {_QLM_SCALE}::HUGEINT // T AS BIGINT) AS p{i}"
        for i in range(len(_QLM_TERMS))
    )
    lg_scale = _DUCK_LOG2.format(x=str(_QLM_SCALE))
    lg_len = _DUCK_LOG2.format(x=f"(dl + {_QLM_MU})")
    score = " + ".join(
        f"({_DUCK_LOG2.format(x=f'(tf{i} * {_QLM_SCALE} + {_QLM_MU} * z.p{i})')}"
        f" - {lg_len} - {lg_scale})"
        for i in range(len(_QLM_TERMS))
    )
    return rf"""
    WITH arr AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), d AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
             {tf_cols}
      FROM arr
    ), z0 AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS T,
             {cf_cols}
      FROM d
    ), z AS (
      SELECT T, {p_cols} FROM z0
    ), sc AS (
      SELECT doc_id, dl, CAST({score} AS BIGINT) AS score
      FROM d, z
    ), top AS (
      SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT {_QLM_K}
    )
    SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
             AS rank,
           doc_id, CAST(dl AS BIGINT) AS dl,
           CAST(score AS BIGINT) AS score_ppm_bits
    FROM top
    """


@register("docs_qlm_topk", oracle=_qlm_oracle())
def docs_qlm_topk(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    SIGIR 2001) for the fixed query {terms} with µ = {mu}: score(d) =
    Σ_t lg( (tf + µ·p(t|C)) / (dl + µ) ) in ppm-bits — the language-
    modeling counterpart to BM25 (``docs_bm25_topk``), and the second
    lexical baseline a hybrid retrieval stack evaluates.  Smoothing
    scores EVERY document (no match filter) — the ranking depends on
    document length even at tf = 0, which is the Dirichlet prior's
    defining behavior.

    Integer convention: the corpus probabilities stage ONCE as ppb
    integers p = cf·1e9 div T on the scalar row (the round-10 ratio
    convention), so every log argument is bounded by a SINGLE count
    times a constant — tf·1e9 + µ·p, dl + µ, and the constant 1e9 —
    and nothing overflows at any corpus size; the octave-log2 ladder
    then renders each term as lg(num) − lg(dl+µ) − lg(1e9).

    Scale shape: ONE zero-shuffle projection computes dl and per-term
    tf in the same pass; cf/T reduce to one broadcast scalar row; the
    top-{k} is a global ORDER BY LIMIT (TakeOrderedAndProject) and the
    rank window runs over those {k} rows only.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    staged = docs.select("doc_id", text.tokens(F.col("text")).alias("_t"))

    def _tf(term):
        # single-arg lambda (the two-arg form binds (element, index))
        return F.size(F.filter(F.col("_t"), lambda x: x == F.lit(term)))

    d = staged.select(
        "doc_id",
        F.size("_t").cast("long").alias("dl"),
        *[
            _tf(term).cast("long").alias(f"tf{i}")
            for i, term in enumerate(_QLM_TERMS)
        ],
    )
    z0 = d.agg(
        F.sum("dl").cast("long").alias("T"),
        *[
            F.sum(f"tf{i}").cast("long").alias(f"cf{i}")
            for i in range(len(_QLM_TERMS))
        ],
    )
    z = z0.select(
        "T",
        *[
            F.expr(
                f"CAST(CAST(cf{i} AS DECIMAL(38,0)) * {_QLM_SCALE} div T"
                f" AS BIGINT)"
            ).alias(f"p{i}")
            for i in range(len(_QLM_TERMS))
        ],
    )
    lg_scale = _SPARK_LOG2.format(x=str(_QLM_SCALE))
    lg_len = _SPARK_LOG2.format(x=f"(dl + {_QLM_MU})")
    score = " + ".join(
        f"({_SPARK_LOG2.format(x=f'(tf{i} * {_QLM_SCALE} + {_QLM_MU} * p{i})')}"
        f" - {lg_len} - {lg_scale})"
        for i in range(len(_QLM_TERMS))
    )
    sc = d.crossJoin(F.broadcast(z)).select(
        "doc_id",
        "dl",
        F.expr(f"CAST({score} AS BIGINT)").alias("score"),
    )
    top = sc.orderBy(F.col("score").desc(), F.col("doc_id")).limit(_QLM_K)
    rw = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(rw).cast("int").alias("rank"),
        "doc_id",
        F.col("dl").cast("long").alias("dl"),
        F.col("score").cast("long").alias("score_ppm_bits"),
    )


docs_qlm_topk.__doc__ = docs_qlm_topk.__doc__.format(
    terms=_QLM_TERMS, mu=_QLM_MU, k=_QLM_K
)
