"""Round-7h wave: structural profiles — graph neighborhoods, seasonal
shape, stylometry, and distribution drift — five more published
techniques in the catalog's exact-integer, oracle-twinned style.

- ``parts_graph_cohesion``  global transitivity (Newman's 3·T/W) next
  to the average local clustering coefficient (Watts–Strogatz 1998):
  the classic cohesion pair whose gap diagnoses hub structure;
  triangles enumerated once via the degree-ordered orientation,
  per-node lcc in exact ppm.
- ``parts_link_prediction``  resource-allocation link prediction
  (Zhou–Lü–Zhang 2009) on the support≥2-pruned co-purchase graph: for
  non-adjacent part pairs sharing common neighbors, RA(a,b) =
  Σ_z 1/deg(z) — the published common-neighbor index that needs NO
  logarithm (unlike Adamic–Adar), so each term is an exact truncated
  ppm and the sum stays order-independent.  Top-50 candidate edges.
- ``orders_weekday_profile``  weekday seasonal decomposition: a
  centered 7-observation moving average detrends the daily revenue
  series (7·y − Σ₇ keeps the detrended residue integral in 7×-cents),
  then per-ISO-weekday means give the additive seasonal index — the
  classical decomposition's seasonal pass, floats nowhere.
- ``docs_burrows_delta``  Burrows' Delta stylometry (Burrows 2002) in
  the MAD-scaled variant (Evert et al. 2017's scaling family): per-pair
  mean of |f_a − f_b|/MAD_t over the top-30 vocabulary, all in
  S-scaled exact integers (the mean μ_t cancels from the numerator, so
  only the mean-absolute-deviation scale needs clearing).
- ``events_value_drift_tvd``  total-variation drift: ½·Σ_b |p_b − q_b|
  between the first- and second-half-of-month value distributions over
  a fixed 16-bucket grid — the exact, bounded drift distance (unlike
  KL/PSI it needs no logarithm), with the peak-divergence bucket
  reported.

Determinism per the package convention: integer arithmetic end-to-end,
sign-split truncating division on non-negative operands, per-term ppm
truncation BEFORE order-independent sums.

Reference anchor: datastax/kafka-sink has no analytics surface (sink/src/main
is record mapping + DSE writes, see SURVEY.md §2); this module extends the
north-star inventory in COVERAGE.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.plans.queries import register
from kafka_sink_spark.session import load_tables

# --------------------------------------------------------------------------
# Local clustering coefficient on the co-purchase graph
# --------------------------------------------------------------------------

_COHESION_ORACLE = """
    WITH li AS (
      SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), e AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ), deg AS (
      SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src
    ), o AS (
      SELECT e.src AS a, e.dst AS b
      FROM e
      JOIN deg da ON da.node = e.src
      JOIN deg db ON db.node = e.dst
      WHERE (da.d < db.d) OR (da.d = db.d AND e.src < e.dst)
    ), t AS (
      -- o holds each oriented edge exactly once, so the closure check is a
      -- plain inner join (no multiplicity to dedup)
      SELECT w.a, w.b, w.c
      FROM (SELECT x.a, x.b, y.b AS c FROM o x JOIN o y ON x.b = y.a) w
      JOIN o cl ON cl.a = w.a AND cl.b = w.c
    ), pt AS (
      SELECT part_key, COUNT(*) AS tri FROM (
        SELECT a AS part_key FROM t
        UNION ALL SELECT b FROM t
        UNION ALL SELECT c FROM t
      ) GROUP BY part_key
    ), node_lcc AS (
      SELECT deg.node, deg.d, COALESCE(pt.tri, 0) AS tri,
             CASE WHEN deg.d < 2 THEN NULL
                  ELSE (2 * COALESCE(pt.tri, 0)::HUGEINT * 1000000)
                       // (deg.d::HUGEINT * (deg.d - 1)) END AS lcc_ppm
      FROM deg LEFT JOIN pt ON pt.part_key = deg.node
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             SUM(d) // 2 AS n_edges,
             SUM(d::HUGEINT * (d - 1)) // 2 AS n_wedges,
             SUM(tri) // 3 AS n_triangles,
             SUM(CASE WHEN lcc_ppm IS NOT NULL THEN 1 ELSE 0 END) AS n_eligible,
             SUM(COALESCE(lcc_ppm, 0)) AS lcc_sum
      FROM node_lcc
    )
    SELECT g.n_nodes, CAST(g.n_edges AS BIGINT) AS n_edges,
           CAST(g.n_wedges AS BIGINT) AS n_wedges,
           CAST(g.n_triangles AS BIGINT) AS n_triangles,
           CAST((3 * g.n_triangles::HUGEINT * 1000000) // g.n_wedges
             AS BIGINT) AS transitivity_ppm,
           CAST(g.lcc_sum // g.n_eligible AS BIGINT) AS avg_lcc_ppm
    FROM g
    """


@register("parts_graph_cohesion", oracle=_COHESION_ORACLE)
def parts_graph_cohesion(spark, sf_dir):
    """Graph cohesion profile of the part co-purchase graph: global
    TRANSITIVITY 3·T/W (Newman's ratio of closed to open wedges) next
    to the AVERAGE local clustering coefficient (Watts–Strogatz 1998) —
    the classic pair that agree on regular graphs and split on
    skew-degree ones (transitivity is hub-weighted, average lcc is
    node-weighted; their gap is the standard hub-structure diagnostic).
    Triangles are enumerated ONCE via the degree-ordered orientation
    (each triangle from its lowest-degree vertex), per-node counts come
    from a 3-way explode of the closed set, and every node's lcc is an
    exact ppm — per-node truncation, then a truncated mean over the
    degree≥2 nodes.

    Scale shape: reuses the PERSISTED per-node triangle substrate
    (_node_triangles, shared with parts_copurchase_triangles
    in-session), whose wedge budget is the classical O(m^1.5)
    orientation bound — far below Σd² on skewed graphs; wedge counts
    need only the degree aggregate; node counts ride a triangle-sized
    explode.  Nodes are catalog-bounded, so the whole pass is bounded
    by the catalog, not the fact table.
    """
    from kafka_sink_spark.plans.analytics_matching import _node_triangles
    from kafka_sink_spark.plans.analytics_mining import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir)
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    # shared persisted per-node triangle substrate (_node_triangles):
    # the wedge+closure enumeration runs once per session, not per query
    pt = _node_triangles(spark, sf_dir)
    node_lcc = deg.join(
        pt.withColumnRenamed("part_key", "node"), "node", "left"
    ).select(
        "d",
        F.coalesce("tri", F.lit(0)).alias("tri"),
        F.expr(
            "CASE WHEN d < 2 THEN NULL"
            " ELSE (2 * CAST(COALESCE(tri, 0) AS DECIMAL(38,0)) * 1000000)"
            " div (CAST(d AS DECIMAL(38,0)) * (d - 1)) END"
        ).alias("lcc_ppm"),
    )
    # n_triangles = Σ per-node counts / 3 — derived from the SAME pass as
    # the lcc profile, so the triangle pipeline executes exactly once.
    g = node_lcc.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.expr("CAST(SUM(d) div 2 AS BIGINT)").alias("n_edges"),
        F.expr(
            "CAST(SUM(CAST(d AS DECIMAL(38,0)) * (d - 1)) div 2 AS BIGINT)"
        ).alias("n_wedges"),
        F.expr("CAST(SUM(tri) div 3 AS BIGINT)").alias("n_triangles"),
        F.sum(F.expr("CASE WHEN lcc_ppm IS NOT NULL THEN 1 ELSE 0 END")).alias(
            "n_eligible"
        ),
        F.sum(F.coalesce("lcc_ppm", F.lit(0))).alias("lcc_sum"),
    )
    return g.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CAST((3 * CAST(n_triangles AS DECIMAL(38,0)) * 1000000)"
            " div n_wedges AS BIGINT)"
        ).alias("transitivity_ppm"),
        F.expr("CAST(lcc_sum div n_eligible AS BIGINT)").alias("avg_lcc_ppm"),
    )


# --------------------------------------------------------------------------
# Resource-allocation link prediction
# --------------------------------------------------------------------------

_RA_TOPK = 50
_RA_MIN_SUPPORT = 2


@substrates.memo
def _support_edges(spark, sf_dir: str, min_support: int = _RA_MIN_SUPPORT):
    """Support-pruned co-purchase edges (directed, both orientations),
    persisted and cached per session: pairs co-purchased >= min_support
    times.  One-off co-occurrences in random baskets grow linearly with
    order volume and carry no affinity signal; the pruned graph stays
    sparse at every SF (measured at sf0.1: 2.4M -> 7.7k directed edges).
    Shared by parts_link_prediction and parts_jaccard_similarity."""
    from pyspark import StorageLevel

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"].select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    e = (
        li.alias("x")
        .join(li.alias("y"), "ok")
        .where(F.col("x.pk") != F.col("y.pk"))
        .groupBy(F.col("x.pk").alias("src"), F.col("y.pk").alias("dst"))
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= min_support)
        .select("src", "dst")
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return e

_RA_ORACLE = f"""
    WITH li AS (
      SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), e AS (
      SELECT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {_RA_MIN_SUPPORT}
    ), deg AS (
      SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src
    ), hop2 AS (
      SELECT e1.dst AS a, e2.dst AS b,
             SUM(1000000 // deg.d) AS ra_ppm,
             COUNT(*) AS common_neighbors
      FROM e e1
      JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN deg ON deg.node = e1.src
      GROUP BY e1.dst, e2.dst
    ), cand AS (
      SELECT h.a, h.b, h.ra_ppm, h.common_neighbors
      FROM hop2 h
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.src = h.a AND e.dst = h.b)
    )
    SELECT a, b, CAST(common_neighbors AS BIGINT) AS common_neighbors,
           CAST(ra_ppm AS BIGINT) AS ra_ppm
    FROM cand
    QUALIFY ROW_NUMBER() OVER (ORDER BY ra_ppm DESC, a, b) <= {_RA_TOPK}
    """


@register("parts_link_prediction", oracle=_RA_ORACLE)
def parts_link_prediction(spark, sf_dir):
    """Resource-allocation link prediction (Zhou–Lü–Zhang 2009) on the
    SUPPORT-PRUNED part co-purchase graph (edges kept only when the
    pair was co-purchased ≥{s} times — the standard market-basket noise
    floor: one-off co-occurrences in random baskets grow linearly with
    order volume and carry no affinity signal, while repeat pairs
    concentrate on true complements and keep the graph sparse at every
    SF).  For every NON-adjacent pair (a, b) with common neighbors,
    RA(a,b) = Σ_z 1/deg(z) over the shared neighbors z — the published
    index that beats Adamic–Adar on co-occurrence graphs and, unlike
    it, needs no logarithm: each 1/deg term is an exact truncated ppm,
    so the per-pair sum is order-independent and bit-identical across
    engines.  Emits the top-{k} predicted edges (score desc, then pair
    id) — "parts that should co-sell but don't yet", the recommender
    primitive.

    Scale shape: support counts partial-combine on the (src, dst) key
    (the one fact-sized pass); the two-hop enumeration runs on the
    PRUNED graph (wedges collapse from Σd² ≈ 3·10⁸ to ~10⁴ at sf0.1 —
    measured, which is WHY the threshold is part of the definition);
    per-pair scores partial-combine on (a, b); adjacency is removed by
    ONE anti-join; the top-{k} plans as TakeOrderedAndProject (per-task
    O(k) heads merged on the driver, never a global sort
    materialization).
    """
    e = _support_edges(spark, sf_dir)
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    hop2 = (
        e.select(F.col("src").alias("z"), F.col("dst").alias("a"))
        .join(e.select(F.col("src").alias("z"), F.col("dst").alias("b")), "z")
        .filter(F.col("a") < F.col("b"))
        .join(deg.withColumnRenamed("node", "z"), "z")
        .groupBy("a", "b")
        .agg(
            F.sum(F.expr("1000000 div d")).alias("ra_ppm"),
            F.count("*").alias("common_neighbors"),
        )
    )
    cand = hop2.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        cand.select(
            "a",
            "b",
            F.col("common_neighbors").cast("long").alias("common_neighbors"),
            F.col("ra_ppm").cast("long").alias("ra_ppm"),
        )
        .orderBy(F.col("ra_ppm").desc(), "a", "b")
        .limit(_RA_TOPK)
    )


parts_link_prediction.__doc__ = parts_link_prediction.__doc__.format(
    k=_RA_TOPK, s=_RA_MIN_SUPPORT
)


# --------------------------------------------------------------------------
# Weekday seasonal profile of daily order revenue
# --------------------------------------------------------------------------

_WDAY_ORACLE = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ), ma AS (
      SELECT d, y,
             SUM(y) OVER w AS s7, COUNT(*) OVER w AS c7
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detr AS (
      SELECT isodow(d) AS dow, 7 * y - s7 AS x7
      FROM ma WHERE c7 = 7
    )
    SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(x7) AS BIGINT) AS detr7_sum_cents,
           CAST(CASE WHEN SUM(x7) >= 0
                THEN SUM(x7) // (7 * COUNT(*))
                ELSE -((-SUM(x7)) // (7 * COUNT(*))) END AS BIGINT)
             AS seasonal_cents
    FROM detr GROUP BY dow
    """


@register("orders_weekday_profile", oracle=_WDAY_ORACLE)
def orders_weekday_profile(spark, sf_dir):
    """Additive weekday seasonality of daily order revenue, extracted
    the classical-decomposition way: a CENTERED 7-observation moving
    average estimates the trend, the detrended residue is kept integral
    as x7 = 7·y − Σ₇ (7×-cents — no fractional trend values anywhere),
    and each ISO weekday's seasonal index is the sign-split mean
    x7/(7·n) back in whole cents.  A flat profile certifies the order
    stream has no day-of-week cycle; a retail-shaped one localizes
    exactly where the weekly lift sits.

    Scale shape: daily totals partial-combine onto the
    CALENDAR-BOUNDED day grid; the 7-row sliding window and the
    weekday rollup run over that bounded series (≤ days rows, never
    raw orders) — the same boundedness as the catalog's other
    day-grid passes.
    """
    od = load_tables(spark, sf_dir, ("orders",))["orders"]
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).alias("y")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    ma = daily.select(
        "d",
        "y",
        F.sum("y").over(w).alias("s7"),
        F.count("*").over(w).alias("c7"),
    )
    detr = ma.filter(F.col("c7") == 7).select(
        F.expr("weekday(d) + 1").alias("dow"),
        (7 * F.col("y") - F.col("s7")).alias("x7"),
    )
    return detr.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x7").cast("long").alias("detr7_sum_cents"),
        F.expr(
            "CAST(CASE WHEN SUM(x7) >= 0 THEN SUM(x7) div (7 * COUNT(*))"
            " ELSE -((-SUM(x7)) div (7 * COUNT(*))) END AS BIGINT)"
        ).alias("seasonal_cents"),
    )


# --------------------------------------------------------------------------
# MAD-scaled Burrows' Delta between document sources
# --------------------------------------------------------------------------

_DELTA_TOP_TERMS = 30

_DELTA_ORACLE = rf"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ), tc AS (
      SELECT source, term, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ), tot AS (
      SELECT source, SUM(c) AS nt FROM tc GROUP BY 1
    ), top AS (
      SELECT term FROM (
        SELECT term, SUM(c) AS c FROM tc GROUP BY term
        ORDER BY c DESC, term LIMIT {_DELTA_TOP_TERMS}
      )
    ), grid AS (
      SELECT tot.source, top.term,
             COALESCE(tc.c, 0) * 1000000 // tot.nt AS f
      FROM tot CROSS JOIN top
      LEFT JOIN tc ON tc.source = tot.source AND tc.term = top.term
    ), scale AS (
      SELECT g.term,
             SUM(ABS(ns.s * g.f - ns.sumf)) AS sscaled, MAX(ns.s) AS s
      FROM grid g,
           (SELECT term AS t2, COUNT(*) AS s, SUM(f) AS sumf
            FROM grid GROUP BY term) ns
      WHERE ns.t2 = g.term
      GROUP BY g.term
    ), pairs AS (
      SELECT ga.source AS src_a, gb.source AS src_b, ga.term,
             CASE WHEN sc.sscaled = 0 THEN 0
                  ELSE (ABS(ga.f - gb.f) * sc.s * sc.s * 1000000)
                       // sc.sscaled END AS term_ppm
      FROM grid ga
      JOIN grid gb ON gb.term = ga.term AND ga.source < gb.source
      JOIN scale sc ON sc.term = ga.term
    )
    SELECT src_a, src_b,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(term_ppm) // COUNT(*) AS BIGINT) AS delta_ppm
    FROM pairs GROUP BY 1, 2
    """


@register("docs_burrows_delta", oracle=_DELTA_ORACLE)
def docs_burrows_delta(spark, sf_dir):
    """Burrows' Delta stylometric distance (Burrows 2002) between every
    pair of document sources, in the MAD-scaled variant from the
    scaling family Evert et al. (2017) analyze: over the corpus's
    top-{m} terms, Delta(a,b) = mean_t |f_a,t − f_b,t| / MAD_t, where
    f_s,t is the source's relative term frequency (exact ppm) and
    MAD_t the across-source mean absolute deviation.  The per-source
    mean μ_t CANCELS from |z_a − z_b|, so only the deviation scale
    needs clearing: with S sources, S²·MAD_t = Σ_s |S·f_s − Σf| is
    exact, and each term contributes (|f_a−f_b|·S²·1e6) // (S²·MAD_t)
    ppm — sqrt-free, log-free, bit-identical across engines.  Near-zero
    Delta pairs are stylistic twins (shared boilerplate or template);
    the classic authorship-attribution signal turned corpus-forensics
    probe.

    Scale shape: the ONLY corpus-sized work is the (source, term)
    count, which partial-combines; the top-{m} vocabulary is a
    rank-filtered aggregate; the dense grid, the deviation scale, and
    the S²/2 pair expansion all run on source-count-bounded relations
    (S × {m} rows).
    """
    from kafka_sink_spark.extensions import text as text_ops

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = (
        docs.select(
            "source", F.explode(text_ops.tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    tot = tc.groupBy("source").agg(F.sum("c").alias("nt"))
    top = (
        tc.groupBy("term")
        .agg(F.sum("c").alias("call"))
        .select(
            "term",
            F.row_number()
            .over(Window.orderBy(F.col("call").desc(), "term"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= _DELTA_TOP_TERMS)
        .select("term")
    )
    grid = (
        tot.crossJoin(F.broadcast(top))
        .join(tc.hint("shuffle_hash"), ["source", "term"], "left")
        .select(
            "source",
            "term",
            F.expr("COALESCE(c, 0) * 1000000 div nt").alias("f"),
        )
    )
    ns = grid.groupBy("term").agg(
        F.count("*").alias("s"), F.sum("f").alias("sumf")
    )
    scale = (
        grid.join(ns, "term")
        .groupBy("term")
        .agg(
            F.sum(F.abs(F.col("s") * F.col("f") - F.col("sumf"))).alias(
                "sscaled"
            ),
            F.max("s").alias("s"),
        )
    )
    ga = grid.select(
        F.col("source").alias("src_a"), "term", F.col("f").alias("fa")
    )
    gb = grid.select(
        F.col("source").alias("src_b"), "term", F.col("f").alias("fb")
    )
    pairs = (
        ga.join(gb, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(scale, "term")
        .select(
            "src_a",
            "src_b",
            F.expr(
                "CASE WHEN sscaled = 0 THEN 0"
                " ELSE (ABS(fa - fb) * s * s * 1000000) div sscaled END"
            ).alias("term_ppm"),
        )
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.expr("CAST(SUM(term_ppm) div COUNT(*) AS BIGINT)").alias(
            "delta_ppm"
        ),
    )


docs_burrows_delta.__doc__ = docs_burrows_delta.__doc__.format(
    m=_DELTA_TOP_TERMS
)


# --------------------------------------------------------------------------
# Total-variation drift between half-month value distributions
# --------------------------------------------------------------------------

_TVD_BUCKETS = 16

_TVD_ORACLE = f"""
    WITH v AS (
      SELECT CAST(FLOOR(value * 1000000) AS BIGINT) AS c,
             CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 2 END AS half
      FROM events
    ), stats AS (
      SELECT MIN(c) AS lo, ((MAX(c) - MIN(c)) // {_TVD_BUCKETS}) + 1 AS width
      FROM v
    ), b AS (
      SELECT (v.c - stats.lo) // stats.width AS bucket, v.half,
             COUNT(*) AS cnt
      FROM v, stats GROUP BY 1, 2
    ), n AS (
      SELECT SUM(CASE WHEN half = 1 THEN cnt ELSE 0 END) AS n1,
             SUM(CASE WHEN half = 2 THEN cnt ELSE 0 END) AS n2
      FROM b
    ), pq AS (
      SELECT bucket,
             SUM(CASE WHEN half = 1 THEN cnt ELSE 0 END) * 1000000 // n.n1
               AS p_ppm,
             SUM(CASE WHEN half = 2 THEN cnt ELSE 0 END) * 1000000 // n.n2
               AS q_ppm
      FROM b, n GROUP BY bucket, n.n1, n.n2
    ), agg AS (
      SELECT SUM(ABS(p_ppm - q_ppm)) AS sdiff FROM pq
    ), peak AS (
      SELECT bucket, ABS(p_ppm - q_ppm) AS d
      FROM pq ORDER BY d DESC, bucket LIMIT 1
    )
    SELECT CAST(n.n1 AS BIGINT) AS n_first, CAST(n.n2 AS BIGINT) AS n_second,
           CAST({_TVD_BUCKETS} AS BIGINT) AS n_buckets,
           CAST(agg.sdiff // 2 AS BIGINT) AS tvd_ppm,
           CAST(peak.bucket AS BIGINT) AS peak_bucket,
           CAST(peak.d AS BIGINT) AS peak_diff_ppm
    FROM n, agg, peak
    """


@register("events_value_drift_tvd", oracle=_TVD_ORACLE)
def events_value_drift_tvd(spark, sf_dir):
    """Total-variation distance between the event-value distributions of
    the first and second half of the month, over a fixed {b}-bucket
    equal-width grid: TVD = ½·Σ_b |p_b − q_b| with each share truncated
    to exact ppm BEFORE the order-independent sum — the bounded,
    log-free drift metric (0 = identical, 1e6 ppm = disjoint) that a
    feature-drift monitor alarms on, plus the peak-divergence bucket
    that localizes WHERE the distribution moved.  KL and PSI need
    logarithms and blow up on empty buckets; TVD does neither, which is
    why it is the catalog's certified drift primitive.

    Scale shape: one pass builds the (bucket, half) histogram via a
    partial-combined count (the grid is {b}×2 CONSTANT rows after the
    combine); totals, shares, the TVD sum, and the peak pick are all
    constant-size arithmetic with single-row broadcasts.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    v = ev.select(
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("c"),
        F.expr(
            "CASE WHEN dayofmonth(ts) <= 15 THEN 1 ELSE 2 END"
        ).alias("half"),
    )
    stats = v.agg(
        F.min("c").alias("lo"),
        F.expr(f"((MAX(c) - MIN(c)) div {_TVD_BUCKETS}) + 1").alias("width"),
    )
    # The ≤{b}×2-row histogram feeds four downstream branches (totals,
    # shares, TVD sum, peak pick); an eager localCheckpoint truncates the
    # lineage so the events scan runs ONCE, not once per branch.
    b = (
        v.crossJoin(F.broadcast(stats))
        .select(F.expr("(c - lo) div width").alias("bucket"), "half")
        .groupBy("bucket", "half")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    n = b.agg(
        F.sum(F.when(F.col("half") == 1, F.col("cnt")).otherwise(0)).alias(
            "n1"
        ),
        F.sum(F.when(F.col("half") == 2, F.col("cnt")).otherwise(0)).alias(
            "n2"
        ),
    )
    pq = (
        b.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("half") == 1, F.col("cnt")).otherwise(0)).alias(
                "c1"
            ),
            F.sum(F.when(F.col("half") == 2, F.col("cnt")).otherwise(0)).alias(
                "c2"
            ),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "bucket",
            F.expr("c1 * 1000000 div n1").alias("p_ppm"),
            F.expr("c2 * 1000000 div n2").alias("q_ppm"),
            "n1",
            "n2",
        )
    )
    agg = pq.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(F.abs(F.col("p_ppm") - F.col("q_ppm"))).alias("sdiff"),
    )
    peak = (
        pq.select(
            "bucket",
            F.abs(F.col("p_ppm") - F.col("q_ppm")).alias("d"),
            F.row_number()
            .over(
                Window.orderBy(
                    F.abs(F.col("p_ppm") - F.col("q_ppm")).desc(), "bucket"
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("bucket").alias("peak_bucket"),
            F.col("d").alias("peak_diff_ppm"),
        )
    )
    return agg.crossJoin(F.broadcast(peak)).select(
        F.col("n1").cast("long").alias("n_first"),
        F.col("n2").cast("long").alias("n_second"),
        F.lit(_TVD_BUCKETS).cast("long").alias("n_buckets"),
        F.expr("CAST(sdiff div 2 AS BIGINT)").alias("tvd_ppm"),
        F.col("peak_bucket").cast("long").alias("peak_bucket"),
        F.col("peak_diff_ppm").cast("long").alias("peak_diff_ppm"),
    )


events_value_drift_tvd.__doc__ = events_value_drift_tvd.__doc__.format(
    b=_TVD_BUCKETS
)
