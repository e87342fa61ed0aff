"""Round-6l wave: graph structure, blocked fuzzy matching, and robust
statistics — four more staples of a large-scale curation/warehouse stack,
in the catalog's exact-integer, oracle-twinned style.

- ``parts_copurchase_triangles``  exact triangle counting over the parts
  co-purchase graph via DEGREE-ORDERED ORIENTATION (each undirected edge
  kept once, pointing low→high (degree, id)), the classic trick that
  bounds wedge fan-out by O(sqrt(m)) per node instead of max-degree —
  per-part triangle counts plus the local clustering coefficient in ppm.
- ``customer_fuzzy_pairs``  blocked fuzzy matching: all customer-name
  pairs within Hamming distance 1 found via WILDCARD(deletion)-NEIGHBOR-
  HOOD BLOCKING (mask one character position per posting row, equi-join
  on the masked key) — O(L·n) posting rows and an equi-join, never the
  O(n²) all-pairs Levenshtein scan; survivors re-verified with the real
  ``levenshtein`` in both engines.
- ``events_scd2_state``  Slowly-Changing-Dimension Type-2 compaction:
  per-user value-band runs collapsed gaps-and-islands style (row_number
  difference), emitting validity intervals — the change-history build
  every warehouse dimension load runs.
- ``events_mad_outliers``  robust outlier report: per-event-type EXACT
  lower-median and MAD (median absolute deviation) over fixed-point
  micro-values, then the top-3 most deviant events per type with a
  robust z-score in ppm — the resistant twin of the 3-sigma
  ``events_value_outliers``.

Determinism per the package convention: fixed-point integers end-to-end
(micro-units via floor(value·1e6)); truncating integer division on
non-negative operands; lower medians selected by rank (never averaged);
ties broken on ids.

Reference anchor: datastax/kafka-sink has no analytics surface (sink/src/main
is record mapping + DSE writes, see SURVEY.md §2); this module extends the
north-star inventory in COVERAGE.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.plans.analytics_mining import _copurchase_edges
from kafka_sink_spark.plans.queries import register
from kafka_sink_spark.session import load_tables

# --------------------------------------------------------------------------
# Triangle counting with degree-ordered orientation
# --------------------------------------------------------------------------


@substrates.memo
def _oriented_edges(spark, sf_dir: str):
    """Degree-ordered orientation of the co-purchase graph, persisted and
    reused: the triangle plan consumes it THREE times (both wedge sides
    and the closure check), so materializing it once collapses three
    recomputations of the degree join into one — the shared-frontier
    discipline the span-dup family uses (VERDICT r5)."""
    from pyspark import StorageLevel

    e = _copurchase_edges(spark, sf_dir)
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    o = (
        e.join(deg.select(F.col("node").alias("src"), F.col("d").alias("da")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("db")), "dst")
        .where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return o


# Per-node triangle counts are the triangle family's shared substrate:
# parts_copurchase_triangles (the per-part readout) and
# parts_graph_cohesion (the transitivity/avg-lcc rollup) both enumerate
# the SAME wedge join + closure semi-join + 3-way explode.  Memoize the
# persisted (part_key, tri) table per (session, sf_dir) — node-bounded
# rows, same discipline as _oriented_edges — so the O(m^1.5) wedge pass
# runs once per session instead of once per consumer (guide §1.2).
@substrates.memo
def _node_triangles(spark, sf_dir: str):
    """(part_key, tri): exact per-node triangle incidence counts via the
    degree-ordered orientation (each triangle counted from its lowest
    (degree, id) vertex, exploded to all three corners)."""
    from pyspark import StorageLevel

    o = _oriented_edges(spark, sf_dir)
    w = (
        o.alias("x")
        .join(o.alias("y"), F.col("x.b") == F.col("y.a"))
        .select(
            F.col("x.a").alias("a"),
            F.col("x.b").alias("b"),
            F.col("y.b").alias("c"),
        )
    )
    t = w.join(
        o.select(F.col("a").alias("ca"), F.col("b").alias("cc")),
        (F.col("a") == F.col("ca")) & (F.col("c") == F.col("cc")),
        "left_semi",
    )
    pt = (
        t.select(F.explode(F.array("a", "b", "c")).alias("part_key"))
        .groupBy("part_key")
        .agg(F.count("*").cast("long").alias("tri"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return pt


_TRIANGLE_ORACLE = """
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
    ), w AS (
      SELECT x.a, x.b, y.b AS c FROM o x JOIN o y ON x.b = y.a
    ), t AS (
      SELECT w.a, w.b, w.c FROM w
      WHERE EXISTS (SELECT 1 FROM o WHERE o.a = w.a AND o.b = w.c)
    ), n AS (
      SELECT a AS part_key FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t
    ), pt AS (
      SELECT part_key, CAST(COUNT(*) AS BIGINT) AS triangles
      FROM n GROUP BY part_key
    )
    SELECT pt.part_key, pt.triangles, CAST(deg.d AS BIGINT) AS degree,
           CASE WHEN deg.d >= 2
                THEN CAST((pt.triangles * 2000000)
                          // (deg.d * (deg.d - 1)) AS BIGINT)
           END AS lcc_ppm
    FROM pt JOIN deg ON deg.node = pt.part_key
    """


@register("parts_copurchase_triangles", oracle=_TRIANGLE_ORACLE)
def parts_copurchase_triangles(spark, sf_dir):
    """Exact per-part triangle counts over the undirected co-purchase
    graph, plus the local clustering coefficient
    ``2·tri·1e6 div (d·(d−1))`` in ppm — the community-density signal
    behind "parts bought together" neighborhoods.

    Algorithm: degree-ordered orientation. Every undirected edge is kept
    exactly once, pointed from its lower (degree, id) endpoint to the
    higher; wedges are an equi-self-join of the oriented list on the
    middle node and a triangle survives iff the closing oriented edge
    exists (left-semi join).  Orientation bounds each node's oriented
    out-degree by O(sqrt(m)), so wedge fan-out is O(m^1.5) worst case —
    the standard scalable triangle enumeration — instead of
    O(Σ d_max²) for naive wedge counting.

    Scale shape: edge build is the shared order-keyed self-join
    (_copurchase_edges, persisted + reused by parts_copurchase_pagerank
    in the same session); then two equi-joins (wedge, closure) and one
    partial-combined count by node.  No all-pairs stage anywhere.
    """
    e = _copurchase_edges(spark, sf_dir)
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    pt = _node_triangles(spark, sf_dir).withColumnRenamed(
        "tri", "triangles"
    )
    return pt.join(deg, pt.part_key == deg.node).select(
        "part_key",
        "triangles",
        F.col("d").cast("long").alias("degree"),
        F.when(
            F.col("d") >= 2,
            F.expr("(triangles * 2000000) div (d * (d - 1))"),
        ).alias("lcc_ppm"),
    )


# --------------------------------------------------------------------------
# Blocked fuzzy matching via wildcard (deletion) neighborhoods
# --------------------------------------------------------------------------

_FUZZY_ORACLE = """
    WITH p AS (
      SELECT c_custkey, c_name, i,
             substring(c_name, 1, CAST(9 + i AS INT)) || '*' ||
             substring(c_name, CAST(11 + i AS INT)) AS blk
      FROM customer, unnest(range(9)) AS u(i)
    )
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(a.i + 1 AS BIGINT) AS diff_pos,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE a.c_name <> b.c_name
    """


@register("customer_fuzzy_pairs", oracle=_FUZZY_ORACLE)
def customer_fuzzy_pairs(spark, sf_dir):
    """All customer-name pairs within Hamming distance 1 over the 9-digit
    id suffix, found by wildcard-neighborhood blocking (the SymSpell /
    entity-resolution trick): each name posts 9 block keys, one per digit
    position with that character masked to ``*``; two names share a block
    key iff they agree everywhere except (possibly) the masked position,
    so an equi-join on the key yields EXACTLY the Hamming≤1 candidates —
    and since a qualifying pair differs in exactly one position it is
    produced by exactly one block (no dedup pass needed).  Survivors are
    re-verified with the engine-native ``levenshtein`` (always 1 here).

    Scale shape: O(L·n) posting rows and one equi-join on the block key —
    never the O(n²) all-pairs distance scan a naive fuzzy join would do;
    block keys hash-partition evenly (each key holds the ≤10 names of one
    digit neighborhood).  The same neighborhood-generation shape extends
    to edit distance k by masking k positions.
    """
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    p = c.select(
        "c_custkey",
        "c_name",
        F.explode(F.sequence(F.lit(0), F.lit(8))).alias("i"),
    ).select(
        "c_custkey",
        "c_name",
        "i",
        F.expr(
            "concat(substring(c_name, 1, 9 + i), '*', substring(c_name, 11 + i))"
        ).alias("blk"),
    )
    return (
        p.alias("a")
        .join(
            p.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .where(F.col("a.c_name") != F.col("b.c_name"))
        .select(
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("b.c_custkey").alias("custkey_b"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
            (F.col("a.i") + 1).cast("long").alias("diff_pos"),
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
            .cast("long")
            .alias("lev"),
        )
    )


# --------------------------------------------------------------------------
# SCD Type-2 interval compaction (gaps-and-islands)
# --------------------------------------------------------------------------

_SCD2_BAND = 100  # value ∈ [0, ~500) → ~5 state bands


_SCD2_ORACLE = f"""
    WITH s AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value) AS BIGINT) // {_SCD2_BAND} AS state_band,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(FLOOR(value) AS BIGINT) // {_SCD2_BAND}
               ORDER BY ts, event_id) AS rnb
      FROM events
    ), runs AS (
      SELECT user_id, state_band,
             MIN(ts) AS valid_from, MAX(ts) AS valid_to,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, state_band, rn - rnb
    )
    SELECT user_id, state_band, valid_from, valid_to, n_events,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY valid_from) AS BIGINT) AS run_seq
    FROM runs
    """


@register("events_scd2_state", oracle=_SCD2_ORACLE)
def events_scd2_state(spark, sf_dir):
    """Slowly-Changing-Dimension Type-2 build: per user, consecutive
    events in the same value band collapse into one validity interval
    (valid_from, valid_to, n_events), numbered in time order — the
    change-history compaction a warehouse runs to turn an event stream
    into a versioned dimension.  Runs are found gaps-and-islands style:
    the difference of two row_numbers (overall vs per-band) is constant
    exactly within a maximal run, so one groupBy collapses each run
    without any iterative logic.

    Scale shape: two window passes sharing one user-keyed hash
    partitioning, one partial-combined aggregate, and a final per-user
    run numbering on the (much smaller) run table — no joins, no
    all-pairs, state bounded per user.
    """
    events = load_tables(spark, sf_dir, ("events",))["events"]
    band = F.expr(f"CAST(FLOOR(value) AS BIGINT) div {_SCD2_BAND}")
    order = [F.col("ts"), F.col("event_id")]
    s = events.select(
        "user_id",
        "ts",
        "event_id",
        band.alias("state_band"),
    ).select(
        "*",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(*order))
        .alias("rn"),
        F.row_number()
        .over(Window.partitionBy("user_id", "state_band").orderBy(*order))
        .alias("rnb"),
    )
    runs = (
        s.groupBy("user_id", "state_band", (F.col("rn") - F.col("rnb")).alias("grp"))
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("valid_to"),
            F.count("*").cast("long").alias("n_events"),
        )
    )
    return runs.select(
        "user_id",
        "state_band",
        "valid_from",
        "valid_to",
        "n_events",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("valid_from"))
        .cast("long")
        .alias("run_seq"),
    )


# --------------------------------------------------------------------------
# Robust outliers: exact median + MAD in fixed point
# --------------------------------------------------------------------------

_MAD_TOPK = 3


_MAD_ORACLE = f"""
    WITH v AS (
      SELECT event_type, event_id,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS v_us
      FROM events
    ), r1 AS (
      SELECT event_type, event_id, v_us,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY v_us, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), med AS (
      SELECT event_type, MAX(n) AS n,
             MAX(CASE WHEN rk = (n + 1) // 2 THEN v_us END) AS median_us
      FROM r1 GROUP BY event_type
    ), d AS (
      SELECT v.event_type, v.event_id, v.v_us, med.n, med.median_us,
             ABS(v.v_us - med.median_us) AS dev_us
      FROM v JOIN med ON med.event_type = v.event_type
    ), r2 AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY dev_us, event_id) AS rk
      FROM d
    ), mad AS (
      SELECT event_type,
             MAX(CASE WHEN rk = (n + 1) // 2 THEN dev_us END) AS mad_us
      FROM r2 GROUP BY event_type
    ), ranked AS (
      SELECT d.event_type, d.event_id, d.v_us, d.dev_us,
             d.n, d.median_us, mad.mad_us,
             ROW_NUMBER() OVER (
               PARTITION BY d.event_type
               ORDER BY d.dev_us DESC, d.event_id) AS rk
      FROM d JOIN mad ON mad.event_type = d.event_type
    )
    SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, v_us, dev_us,
           CAST(n AS BIGINT) AS n, median_us, mad_us,
           CASE WHEN mad_us > 0
                THEN (dev_us * 1000000) // mad_us END AS robust_z_ppm
    FROM ranked WHERE rk <= {_MAD_TOPK}
    """


@register("events_mad_outliers", oracle=_MAD_ORACLE)
def events_mad_outliers(spark, sf_dir):
    """Robust outlier report per event type: the EXACT lower median and
    MAD (median absolute deviation) of the value distribution in
    fixed-point micro-units, then the top-{_MAD_TOPK} most deviant events
    with a robust z-score ``dev·1e6 div MAD`` in ppm — the
    breakdown-resistant twin of the 3-sigma ``events_value_outliers``
    (one wild value shifts a mean/stddev fence; it cannot move a
    median/MAD fence).

    Both medians use the catalog's rank-selection discipline (lower
    median at rank ⌈n/2⌉ by row_number, ties on event_id) — exact,
    distributed, never an approximate percentile and never a
    float average of two middle elements.

    Scale shape: three type-keyed window passes sharing one hash
    partitioning plus two broadcast-sized joins on the tiny per-type
    stats table; linear in events, no global sort (final top-k is
    per-type rank, WindowGroupLimit-prunable).
    """
    events = load_tables(spark, sf_dir, ("events",))["events"]
    v = events.select(
        "event_type",
        "event_id",
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_us"),
    )
    r1 = v.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("v_us", "event_id"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    med = r1.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("v_us"))
        ).alias("median_us"),
    )
    d = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "v_us",
        "n",
        "median_us",
        F.abs(F.col("v_us") - F.col("median_us")).alias("dev_us"),
    )
    r2 = d.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("dev_us", "event_id"))
        .alias("rk"),
    )
    mad = r2.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("dev_us"))
        ).alias("mad_us"),
    )
    ranked = d.join(F.broadcast(mad), "event_type").select(
        "*",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.col("dev_us").desc(), F.col("event_id")
            )
        )
        .alias("rk"),
    )
    return ranked.where(F.col("rk") <= _MAD_TOPK).select(
        "event_type",
        F.col("rk").cast("long").alias("rk"),
        "event_id",
        "v_us",
        "dev_us",
        F.col("n").cast("long").alias("n"),
        "median_us",
        "mad_us",
        F.when(
            F.col("mad_us") > 0, F.expr("(dev_us * 1000000) div mad_us")
        ).alias("robust_z_ppm"),
    )
