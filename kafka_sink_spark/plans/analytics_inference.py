"""Round-6i wave: experiment analysis, trend estimation, and community
detection — the inferential layer over the event stream and the
co-purchase graph.

- ``events_ab_test``  A/B experiment readout with EXACT integer
  significance: users are hash-assigned to arms (deterministic,
  re-run-stable), and the two-sample z² > 4 test (|z| > 2, ≈95%) is
  evaluated by cross-multiplying Welford-style integer sums so no float
  mean/variance/sqrt ever crosses an engine boundary.
- ``events_trend_slope``  per-type OLS slope of value over time (days),
  from the five exact sufficient statistics (n, Σt, Σx, Σt², Σtx): the
  slope's exact integer numerator/denominator are reported alongside the
  one-division rounded float — distributed linear regression as a single
  partial-combined aggregate.
- ``parts_label_propagation``  3 rounds of synchronous label propagation
  over the parts co-purchase graph (majority neighbor label, min-label
  tie-break — fully deterministic): the community-detection companion to
  the PageRank and connected-components loops, same cached src-partitioned
  edge table.

Determinism per the package convention: integers end-to-end; wide products
in decimal(38,0) ≙ HUGEINT; floats only as final one-division renders.

Reference anchor: datastax/kafka-sink has no analytics surface (sink/src/main
is record mapping + DSE writes, see SURVEY.md §2); this module extends the
north-star inventory in COVERAGE.md.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.plans.analytics_mining import _copurchase_edges
from kafka_sink_spark.plans.queries import register
from kafka_sink_spark.plans.stream_twin import finish_stream_twin
from kafka_sink_spark.session import load_tables

# --------------------------------------------------------------------------
# A/B experiment readout with exact integer significance
# --------------------------------------------------------------------------

# |z| > 2  ⇔  (meanA - meanB)² > 4·(varA/nA + varB/nB).  With S=Σx, Q=Σx²
# per arm (micro-unit integers), cross-multiplying by (nA·nB)²·nA·nB clears
# every denominator:
#   (SA·nB − SB·nA)² · nA · nB  >  4 · (nB³·(nA·QA−SA²) + nA³·(nB·QB−SB²))
# — wait, the exact clearing: varA/nA = (nA·QA−SA²)/nA³, so multiply both
# sides by (nA·nB)³ :
#   (SA·nB − SB·nA)² · nA·nB  >  4·(nB³·(nA·QA−SA²) + nA³·(nB·QB−SB²))
# (LHS gains (nA·nB)³ / (nA·nB)² = nA·nB).  All terms are products of
# non-negative counts and integer sums — exact in decimal(38,0)/HUGEINT.

_AB_ORACLE = """
    WITH b AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
               AS arm,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS xm
      FROM events
    ), st AS (
      SELECT event_type,
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN arm = 0 THEN xm ELSE 0 END) AS sa,
             SUM(CASE WHEN arm = 0 THEN CAST(xm AS HUGEINT) * xm ELSE 0 END)
               AS qa,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
             SUM(CASE WHEN arm = 1 THEN xm ELSE 0 END) AS sb,
             SUM(CASE WHEN arm = 1 THEN CAST(xm AS HUGEINT) * xm ELSE 0 END)
               AS qb
      FROM b GROUP BY event_type
    )
    SELECT event_type,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(CAST(sa AS DOUBLE) / na / 1e6, 6) AS mean_a,
           round(CAST(sb AS DOUBLE) / nb / 1e6, 6) AS mean_b,
           CASE WHEN (sa * CAST(nb AS HUGEINT) - sb * CAST(na AS HUGEINT))
                     * (sa * CAST(nb AS HUGEINT) - sb * CAST(na AS HUGEINT))
                     * na * nb
                     > 4 * (CAST(nb AS HUGEINT) * nb * nb
                              * (na * qa - CAST(sa AS HUGEINT) * sa)
                            + CAST(na AS HUGEINT) * na * na
                              * (nb * qb - CAST(sb AS HUGEINT) * sb))
                THEN 1 ELSE 0 END AS significant
    FROM st
    WHERE na > 0 AND nb > 0
    """


@register("events_ab_test", oracle=_AB_ORACLE)
def events_ab_test(spark, sf_dir):
    """A/B experiment readout: users are hash-split into two arms
    (md5(user_id) mod 2 — deterministic under re-runs and re-partitioning,
    the same assignment discipline as docs_train_split_report), and each
    event type reports arm sizes, arm means, and a significance flag for
    the two-sample |z| > 2 test evaluated ENTIRELY in exact integers: the
    inequality is cross-multiplied to
    (SA·nB − SB·nA)²·nA·nB > 4·(nB³·(nA·QA−SA²) + nA³·(nB·QB−SB²)),
    so no float mean, variance, or sqrt can diverge between engines or
    partition orders.

    Scale shape: one scan, one partial-combined aggregation onto the tiny
    event-type keyspace carrying six integer sums, one projection.  The
    same shape at 10⁹ users — the sufficient statistics are mergeable.
    """
    events = load_tables(spark, sf_dir, ("events",))["events"]
    b = events.select(
        "event_type",
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("bigint")
            % 2
        ).alias("arm"),
        F.floor(F.col("value") * 1_000_000).cast("bigint").alias("xm"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    arm0 = F.col("arm") == 0
    st = b.groupBy("event_type").agg(
        F.sum(F.when(arm0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(arm0, F.col("xm")).otherwise(0)).alias("sa"),
        F.sum(F.when(arm0, dec(F.col("xm")) * dec(F.col("xm"))).otherwise(dec(F.lit(0)))).alias("qa"),
        F.sum(F.when(~arm0, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(~arm0, F.col("xm")).otherwise(0)).alias("sb"),
        F.sum(F.when(~arm0, dec(F.col("xm")) * dec(F.col("xm"))).otherwise(dec(F.lit(0)))).alias("qb"),
    ).where((F.col("na") > 0) & (F.col("nb") > 0))
    diff = dec(F.col("sa")) * dec(F.col("nb")) - dec(F.col("sb")) * dec(F.col("na"))
    lhs = diff * diff * dec(F.col("na")) * dec(F.col("nb"))
    rhs = F.lit(4).cast("decimal(38,0)") * (
        dec(F.col("nb")) * dec(F.col("nb")) * dec(F.col("nb"))
        * (dec(F.col("na")) * F.col("qa") - dec(F.col("sa")) * dec(F.col("sa")))
        + dec(F.col("na")) * dec(F.col("na")) * dec(F.col("na"))
        * (dec(F.col("nb")) * F.col("qb") - dec(F.col("sb")) * dec(F.col("sb")))
    )
    return st.select(
        "event_type",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("sa").cast("double") / F.col("na") / 1e6, 6).alias("mean_a"),
        F.round(F.col("sb").cast("double") / F.col("nb") / 1e6, 6).alias("mean_b"),
        F.when(lhs > rhs, F.lit(1)).otherwise(F.lit(0)).cast("int").alias(
            "significant"
        ),
    )


# --------------------------------------------------------------------------
# Per-type OLS trend slope from exact sufficient statistics
# --------------------------------------------------------------------------

_TREND_ORACLE = """
    WITH b AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS xm
      FROM events
    ), st AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(t) AS st_, SUM(xm) AS sx,
             SUM(CAST(t AS HUGEINT) * t) AS stt,
             SUM(CAST(t AS HUGEINT) * xm) AS stx
      FROM b GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(n * stx - CAST(st_ AS HUGEINT) * sx AS BIGINT) AS slope_num,
           CAST(n * stt - CAST(st_ AS HUGEINT) * st_ AS BIGINT) AS slope_den,
           round(CAST(n * stx - CAST(st_ AS HUGEINT) * sx AS DOUBLE)
                 / CAST(n * stt - CAST(st_ AS HUGEINT) * st_ AS DOUBLE) / 1e6,
                 6) AS slope_per_day
    FROM st
    WHERE n * stt - CAST(st_ AS HUGEINT) * st_ <> 0
    """


@register("events_trend_slope", oracle=_TREND_ORACLE)
def events_trend_slope(spark, sf_dir):
    """Per-type OLS slope of value over time (per day), by the classic
    sufficient-statistics identity slope = (n·Σtx − Σt·Σx)/(n·Σt² − (Σt)²):
    the five sums are exact integers (days since epoch × micro-units), the
    numerator and denominator are emitted as exact integers, and the float
    slope is one division at the end — distributed linear regression with
    nothing to drift.

    Scale shape: one scan, one partial-combined five-sum aggregation onto
    the event-type keyspace, one projection.  The sufficient statistics
    merge associatively, so the same query is the map-side-combine plan at
    any row count.
    """
    events = load_tables(spark, sf_dir, ("events",))["events"]
    b = events.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("t"),
        F.floor(F.col("value") * 1_000_000).cast("bigint").alias("xm"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    st = b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st_"),
        F.sum("xm").alias("sx"),
        F.sum(dec(F.col("t")) * dec(F.col("t"))).alias("stt"),
        F.sum(dec(F.col("t")) * dec(F.col("xm"))).alias("stx"),
    )
    num = dec(F.col("n")) * F.col("stx") - dec(F.col("st_")) * dec(F.col("sx"))
    den = dec(F.col("n")) * F.col("stt") - dec(F.col("st_")) * dec(F.col("st_"))
    return st.where(den != 0).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.round(num.cast("double") / den.cast("double") / 1e6, 6).alias(
            "slope_per_day"
        ),
    )


# --------------------------------------------------------------------------
# Label propagation over the parts co-purchase graph
# --------------------------------------------------------------------------

_LP_ITERS = 3

# The 3-round LP label table is the community family's shared substrate
# (parts_label_propagation's readout AND parts_modularity's three scoring
# consumers): memoize the CHECKPOINTED result per (session, edge plan) the
# way connected_components/_copurchase_edges do, so one session's consumers
# don't each re-run the iterative loop (guide §1.2: remove repeated
# passes before tuning inside one).
@substrates.memo
def _lp_labels(e):
    """3-round deterministic synchronous label propagation over the
    directed-symmetric edge table ``e(src, dst)``: every node starts
    labeled with itself; each round adopts the most frequent neighbor
    label with min-label tie-break.  Shared by the community readout
    and the modularity scorer; checkpointed + memoized per (session,
    edge plan) — see the comment above."""
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LP_ITERS):
        # One nd-keyed exchange feeds BOTH aggregations of the round
        # (hash(nd) satisfies the (nd, lbl) clustering), and the per-node
        # arg-max runs as a partial-combined max(struct(cnt, -lbl)) —
        # identical to ordering by (cnt DESC, lbl ASC) and taking rank 1,
        # without the per-round Sort+Window pass (guide §2.4: two
        # operations keyed the same way share one exchange).  Measured
        # 4.2 s -> 2.4 s warm on the 2.39M-edge sf0.1 graph.
        j = e.join(labels, e.src == labels.node).select(
            F.col("dst").alias("nd"), "lbl"
        )
        cnt = j.repartition("nd").groupBy("nd", "lbl").agg(
            F.count("*").alias("cnt")
        )
        labels = (
            cnt.groupBy(F.col("nd").alias("node"))
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt").alias("c"), (-F.col("lbl")).alias("neg")
                    )
                ).alias("m")
            )
            .select("node", (-F.col("m.neg")).alias("lbl"))
        )
    # O(nodes) rows: cut the 3-round lineage once so every consumer reads
    # the materialized label table instead of re-running the loop.
    labels = labels.localCheckpoint(eager=True)
    return labels


def _lp_iter_cte(prev: str, idx: int) -> str:
    return f"""c{idx} AS (
      SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
      FROM e JOIN {prev} l ON l.node = e.src
      GROUP BY e.dst, l.lbl
    ), l{idx} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (
                 PARTITION BY node ORDER BY cnt DESC, lbl ASC
               ) AS rk
        FROM c{idx}
      ) WHERE rk = 1
    )"""


_LP_ORACLE = f"""
    WITH li AS (
      SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), e AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ), l0 AS (
      SELECT DISTINCT src AS node, src AS lbl FROM e
    ), {_lp_iter_cte('l0', 1)}, {_lp_iter_cte('l1', 2)}, {_lp_iter_cte('l2', 3)}
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MIN(node) AS BIGINT) AS min_part,
           CAST(MAX(node) AS BIGINT) AS max_part
    FROM l{_LP_ITERS}
    GROUP BY lbl
    """


@register("parts_label_propagation", oracle=_LP_ORACLE)
def parts_label_propagation(spark, sf_dir):
    """Synchronous label propagation (Raghavan et al. 2007, public) on the
    parts co-purchase graph: every node starts labeled with itself; each
    round adopts the most frequent neighbor label, ties broken by the
    SMALLEST label — a fully deterministic variant of the classic
    randomized algorithm, so the 3-round communities are hash-verifiable
    cross-engine.  Output: per surviving community, member count and part
    range.

    Scale shape: reuses the cached src-partitioned edge table built by
    parts_copurchase_pagerank; each round is one src-keyed join, one
    partial-combined (dst,label) count, and one per-node arg-max that
    Spark executes under WindowGroupLimit (rank=1 filter).  Fixed round
    count, linear in edges — the same iterative-join discipline as the
    PageRank and HashMin-CC loops.
    """
    e = _copurchase_edges(spark, sf_dir)
    labels = _lp_labels(e)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count("*").alias("n_parts"),
        F.min("node").alias("min_part"),
        F.max("node").alias("max_part"),
    )


_MODULARITY_ORACLE = f"""
    WITH li AS (
      SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), e AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ), l0 AS (
      SELECT DISTINCT src AS node, src AS lbl FROM e
    ), {_lp_iter_cte('l0', 1)}, {_lp_iter_cte('l1', 2)}, {_lp_iter_cte('l2', 3)},
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src
    ), tot AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS ee FROM e
    ), comm AS (
      SELECT l.lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(SUM(d.d) AS BIGINT) AS degree_sum
      FROM l{_LP_ITERS} l JOIN deg d ON d.node = l.node
      GROUP BY l.lbl
    ), inte AS (
      SELECT la.lbl AS community, CAST(COUNT(*) AS BIGINT) AS internal_edges
      FROM e
      JOIN l{_LP_ITERS} la ON la.node = e.src
      JOIN l{_LP_ITERS} lb ON lb.node = e.dst
      WHERE la.lbl = lb.lbl
      GROUP BY la.lbl
    ), rows_ AS (
      SELECT c.community, c.n_parts,
             CAST(COALESCE(i.internal_edges, 0) AS BIGINT) AS internal_edges,
             c.degree_sum,
             CAST((COALESCE(i.internal_edges, 0)::HUGEINT * 1000000) // t.ee
                  - (c.degree_sum::HUGEINT * c.degree_sum * 1000000)
                    // (t.ee * t.ee) AS BIGINT) AS q_contrib_ppm
      FROM comm c LEFT JOIN inte i ON i.community = c.community, tot t
    )
    SELECT * FROM rows_
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS community,
           CAST(SUM(n_parts) AS BIGINT),
           CAST(SUM(internal_edges) AS BIGINT),
           CAST(SUM(degree_sum) AS BIGINT),
           CAST(SUM(q_contrib_ppm) AS BIGINT)
    FROM rows_
    """


@register("parts_modularity", oracle=_MODULARITY_ORACLE)
def parts_modularity(spark, sf_dir):
    """Newman modularity of the 3-round label-propagation communities
    over the parts co-purchase graph (Newman & Girvan 2004): per
    community c, the contribution e_c/2m − (d_c/2m)² in ppm — internal
    directed-edge fraction minus the degree-null expectation — and the
    pooled community=−1 row is Q itself, the standard "are these
    communities better than chance" score for the LP output.  Integer
    convention: both ratio terms are non-negative truncating divisions
    against the directed edge total (and its square in DECIMAL(38,0) ≙
    HUGEINT), subtracted AFTER dividing, so no negative value ever
    meets an integer division.

    Scale shape: reuses the cached src-partitioned edge substrate and
    the shared deterministic LP loop (each round one src-keyed join +
    one nd-keyed exchange + two partial-combined aggs); scoring
    adds one degree rollup, one two-sided label join over the edges
    (both joins key-partitioned on the node), and a |communities|-sized
    readout under a single-row broadcast total.  Linear in edges,
    state O(nodes) — the PageRank discipline applied to community QA.
    """
    e = _copurchase_edges(spark, sf_dir)
    # three consumers (degree rollup + both edge-endpoint joins) read the
    # checkpointed shared label substrate (_lp_labels) — the loop runs once
    # per session, not once per consumer
    labels = _lp_labels(e)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("ee"))
    comm = (
        deg.join(labels, "node")
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    la = labels.select(F.col("node").alias("src"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("node").alias("dst"), F.col("lbl").alias("lb"))
    inte = (
        e.join(la, "src")
        .join(lb, "dst")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("internal_edges"))
    )
    rows = (
        comm.join(inte, "community", "left")
        .select(
            "community",
            "n_parts",
            F.coalesce(F.col("internal_edges"), F.lit(0))
            .cast("long")
            .alias("internal_edges"),
            "degree_sum",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_parts",
            "internal_edges",
            "degree_sum",
            F.expr(
                "CAST(CAST(internal_edges AS DECIMAL(38,0)) * 1000000 div ee"
                " - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum * 1000000"
                "   div (CAST(ee AS DECIMAL(38,0)) * ee) AS BIGINT)"
            ).alias("q_contrib_ppm"),
        )
    )
    # |communities| rows feed both union branches (per-community + Q):
    # persist so the two-sided label join over the edges executes once,
    # not once per branch (guide §7.2: duplicated subtrees)
    from pyspark import StorageLevel

    rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
    total = rows.agg(
        F.lit(-1).cast("long").alias("community"),
        F.sum("n_parts").cast("long").alias("n_parts"),
        F.sum("internal_edges").cast("long").alias("internal_edges"),
        F.sum("degree_sum").cast("long").alias("degree_sum"),
        F.sum("q_contrib_ppm").cast("long").alias("q_contrib_ppm"),
    )
    return rows.unionByName(total)


# --------------------------------------------------------------------------
# Stream-static enrichment join, certified via a REAL availableNow replay
# --------------------------------------------------------------------------

_STREAM_ENRICH_RUNS = iter(range(1_000_000))


@register(
    "stream_enrich_twin",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment, e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_value_millionths
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_enrich_twin(spark, sf_dir):
    """The STREAM-STATIC enrichment operator (streaming/analytics.py
    enrich_rollup_stream), certified by EXECUTING the real streaming query:
    the events table is staged into a file source, read as a stream, joined
    per micro-batch against the static customer dimension (broadcast), and
    rolled up per (market segment, event type); the availableNow final
    state from the memory sink is returned and must hash-equal the plain
    batch join the oracle runs.  This is the one core Structured Streaming
    join shape (stream ⋈ static) the stream-stream interval-join twin
    doesn't cover.

    Scale shape: the static side is dimension-sized and broadcast — no
    streaming state for the join at all; aggregation state is the
    segment×type keyspace (tens of rows) regardless of stream length.
    """
    import tempfile

    from kafka_sink_spark.streaming.analytics import enrich_rollup_stream

    t = load_tables(spark, sf_dir, ("events", "customer"))
    sel = t["events"].select("event_id", "ts", "user_id", "event_type", "value")
    src = tempfile.mkdtemp(prefix="stream_enrich_src_")
    sel.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).parquet(src)
    name = f"stream_enrich_twin_{next(_STREAM_ENRICH_RUNS)}"
    ck = tempfile.mkdtemp(prefix="stream_enrich_ck_")
    q = (
        enrich_rollup_stream(stream, t["customer"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    result = spark.table(name).select(
        "mktsegment", "event_type", "n_events", "sum_value_millionths"
    )
    return finish_stream_twin(spark, q, name, result, (src, ck))
