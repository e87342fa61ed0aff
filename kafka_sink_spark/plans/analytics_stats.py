"""Round-6f wave: iterative linear algebra over embeddings, dataset
splitting, and two distribution diagnostics every large-scale pipeline
needs before it trusts its own aggregations.

- ``embedding_power_iteration``  dominant principal direction of the
  embedding matrix by 3 power-iteration rounds (v ← XᵀX v), in EXACT
  fixed-point integers: vectors are milli-quantized, each round rescales by
  the max-|component| with a sign-split truncating division so Spark `div`
  and DuckDB `//` agree — distributed PCA's inner loop as pure DataFrame
  ops (the whitening/top-direction step used by SemDeDup-style pipelines).
- ``docs_train_split_report``  deterministic 98/1/1 train/val/test
  assignment by document content hash (split survives re-partitioning,
  re-ordering, and incremental arrival), micro-audited per (split, source).
- ``events_user_skew_topk``  hot-key diagnosis for the event stream: the
  20 heaviest user keys with exact ppm share and a ×-uniform skew factor —
  the report that decides when `events_salted_rollup`'s salting is needed.
- ``events_gap_median``  per-user EXACT median inter-event gap (lower
  median, rank-selected) plus max gap and event count — distributed exact
  grouped median without any global sort.

Determinism per the package convention: integers end-to-end; sign-split
truncating division wherever a signed ratio appears; md5-prefix hashes.

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
# Power iteration: dominant eigenvector of XᵀX in exact fixed point
# --------------------------------------------------------------------------

_PI_DIM = 64
_PI_ITERS = 3
_PI_VSCALE = 1000  # rescaled eigenvector components live in [-1000, 1000]

# (vec, dim, milli-quantized value) triples feed two aggregations per
# iteration; build once per (session, sf_dir), pre-partitioned by vec_id so
# the per-vector dot product reuses the cached partitioning and the w-step
# join needs no x-side Exchange.
@substrates.memo
def _embedding_triples(spark, sf_dir: str):
    from pyspark import StorageLevel

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    x = (
        emb.select(
            "vec_id", F.posexplode("embedding").alias("d", "_val")
        )
        .select(
            "vec_id",
            "d",
            F.floor(F.col("_val").cast("double") * 1000.0)
            .cast("long")
            .alias("xq"),
        )
        .repartition("vec_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return x


def _pi_iter_ctes(prev: str, idx: int) -> str:
    return f"""s{idx} AS (
      SELECT x.vec_id, SUM(x.xq * v.v) AS s
      FROM x JOIN {prev} v ON x.d = v.d GROUP BY x.vec_id
    ), w{idx} AS (
      SELECT x.d, SUM(x.xq * s.s) AS w
      FROM x JOIN s{idx} s ON x.vec_id = s.vec_id GROUP BY x.d
    ), m{idx} AS (
      SELECT GREATEST(MAX(ABS(w)), 1) AS mx FROM w{idx}
    ), v{idx} AS (
      SELECT d, CASE WHEN w >= 0 THEN (w * {_PI_VSCALE}) // mx
                     ELSE -((-w * {_PI_VSCALE}) // mx) END AS v
      FROM w{idx}, m{idx}
    )"""


_PI_ORACLE = f"""
    WITH x AS (
      SELECT vec_id, r.i AS d,
             CAST(FLOOR(CAST(embedding[r.i + 1] AS DOUBLE) * 1000.0) AS BIGINT)
               AS xq
      FROM embeddings, range({_PI_DIM}) r(i)
    ), v0 AS (
      SELECT r.i AS d, CAST({_PI_VSCALE} AS BIGINT) AS v FROM range({_PI_DIM}) r(i)
    ), {_pi_iter_ctes('v0', 1)}, {_pi_iter_ctes('v1', 2)}, {_pi_iter_ctes('v2', 3)}
    SELECT d AS dim_idx, CAST(v AS BIGINT) AS v_milli FROM v{_PI_ITERS}
    """


@register("embedding_power_iteration", oracle=_PI_ORACLE)
def embedding_power_iteration(spark, sf_dir):
    """Dominant principal direction of the embedding matrix via 3 rounds of
    power iteration, v ← XᵀXv, entirely in exact integer fixed point.

    Each round is two matrix-free aggregations: per-vector scores
    s_i = Σ_d x_id·v_d (64-row v broadcast, partial-combined sum by
    vec_id), then the new direction w_d = Σ_i x_id·s_i (partial-combined
    sum by dim).  The round ends by rescaling components to ±1000 via
    division by max|w| — sign-split truncating division, so Spark and
    DuckDB produce bit-identical integers (Spark `div` truncates toward
    zero, DuckDB `//` floors; they agree only on non-negative operands).
    Milli-quantization bounds every partial sum: |s| ≤ 64·530·1000 ≈ 3.4e7
    and |w| ≤ N·530·|s|, int64-safe past 10⁸ vectors; beyond that the
    quantization scale drops a bit per 4× — documented, not silent.

    Scale shape: the triple table is built once (cached, vec_id-partitioned)
    and every iteration reuses its partitioning — per round the only data
    that moves is the 64-row direction (broadcast) and the map-side-combined
    dim sums.  Fixed iteration count, linear in N·d, no collect loop.
    """
    x = _embedding_triples(spark, sf_dir)
    v = (
        x.select("d")
        .distinct()
        .select("d", F.lit(_PI_VSCALE).cast("long").alias("v"))
    )
    for _ in range(_PI_ITERS):
        s = (
            x.join(F.broadcast(v), "d")
            .groupBy("vec_id")
            .agg(F.sum(F.col("xq") * F.col("v")).alias("s"))
        )
        w = (
            x.join(s, "vec_id")
            .groupBy("d")
            .agg(F.sum(F.col("xq") * F.col("s")).alias("w"))
        )
        m = w.agg(F.greatest(F.max(F.abs(F.col("w"))), F.lit(1).cast("long")).alias("mx"))
        v = w.crossJoin(F.broadcast(m)).select(
            "d",
            F.expr(
                f"CASE WHEN w >= 0 THEN (w * {_PI_VSCALE}) div mx "
                f"ELSE -((-w * {_PI_VSCALE}) div mx) END"
            ).alias("v"),
        )
        # Materialize the 64-row direction and truncate its lineage so the
        # next round's broadcast doesn't re-execute every prior round (the
        # localCheckpoint-per-round discipline from the HashMin CC loop).
        v = v.localCheckpoint(eager=True)
    return v.select(
        F.col("d").cast("long").alias("dim_idx"), F.col("v").alias("v_milli")
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split, audited per source
# --------------------------------------------------------------------------

_SPLIT_TRAIN = 98  # buckets 0..97 of 100


_SPLIT_ORACLE = f"""
    WITH d AS (
      SELECT source,
             ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 AS bucket,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
               AS n_toks
      FROM documents
    ), s AS (
      SELECT source,
             CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                  WHEN bucket = {_SPLIT_TRAIN} THEN 'val'
                  ELSE 'test' END AS split,
             n_toks
      FROM d
    ), tot AS (
      SELECT COUNT(*) AS n FROM documents
    )
    SELECT split, source, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           (COUNT(*) * 1000000) // MAX(tot.n) AS share_ppm
    FROM s, tot
    GROUP BY split, source
    """


@register("docs_train_split_report", oracle=_SPLIT_ORACLE)
def docs_train_split_report(spark, sf_dir):
    """Deterministic 98/1/1 train/val/test assignment by CONTENT hash
    (md5 of the text, mod 100): the split is a pure function of the
    document, so it is stable under re-partitioning, shard order, pipeline
    re-runs, and incremental arrival — and duplicate texts always land in
    the same split, so near-dup leakage across the eval boundary can only
    come from near-dups, never exact ones.  Output audits each (split,
    source) cell: document count, token count, exact ppm share of the
    corpus.

    Scale shape: one scan, one hash projection, one partial-combined
    aggregate over ≤ 3×|sources| groups, plus a broadcast scalar for the
    denominator.  Zero wide shuffles.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    staged = docs.select(
        "source",
        (text.md5_long(F.col("text")) % 100).alias("bucket"),
        F.size(text.tokens(F.col("text"))).alias("n_toks"),
    ).select(
        "source",
        F.when(F.col("bucket") < _SPLIT_TRAIN, F.lit("train"))
        .when(F.col("bucket") == _SPLIT_TRAIN, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        "n_toks",
    )
    tot = docs.agg(F.count("*").alias("n"))
    return (
        staged.groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "split",
            "source",
            "n_docs",
            "n_tokens",
            F.expr("n_docs * 1000000 div n").alias("share_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Hot-key diagnosis: top-20 user keys by event volume
# --------------------------------------------------------------------------

_SKEW_TOPK = 20


_SKEW_ORACLE = f"""
    WITH c AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ), g AS (
      SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_events FROM c
    ), r AS (
      SELECT user_id, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rk
      FROM c
    )
    SELECT r.rk AS rank, r.user_id, r.cnt,
           CAST((r.cnt * 1000000) // MAX(g.n_events) AS BIGINT) AS share_ppm,
           CAST((r.cnt * MAX(g.n_keys) * 1000000) // MAX(g.n_events) AS BIGINT)
             AS x_uniform_ppm
    FROM r, g
    WHERE r.rk <= {_SKEW_TOPK}
    GROUP BY r.rk, r.user_id, r.cnt
    """


@register("events_user_skew_topk", oracle=_SKEW_ORACLE)
def events_user_skew_topk(spark, sf_dir):
    """Hot-key report for the event stream: the 20 heaviest user keys with
    exact ppm share of all events and a ×-uniform factor (1e6 = exactly the
    uniform per-key load).  This is the diagnostic that justifies — or
    retires — the salting in `events_salted_rollup`: keys with
    x_uniform_ppm ≫ 1e6 are the ones a keyed shuffle serializes on.

    Scale shape: one partial-combined count by key, a single-row global
    (broadcast), and a top-k that Spark plans as TakeOrderedAndProject
    (limit=20) — per-partition top-20 then a 20-row merge — so the rank
    window itself runs on 20 rows and the key table is never globally
    sorted (pinned by tests/test_stats_ops.py).  Ties break on user_id for
    determinism.
    """
    events = load_tables(spark, sf_dir, ("events",))["events"]
    c = events.groupBy("user_id").agg(F.count("*").alias("cnt"))
    g = c.agg(
        F.count("*").alias("n_keys"), F.sum("cnt").alias("n_events")
    )
    # Global top-k: orderBy().limit() plans TakeOrderedAndProject
    # (per-partition top-20, 20-row merge); the rank window then runs on
    # the 20 surviving rows only.  A row_number-over-global-window filter
    # would instead pull EVERY key through one partition — WindowGroupLimit
    # does not fire for unpartitioned rank filters.
    top = c.orderBy(F.col("cnt").desc(), F.col("user_id")).limit(_SKEW_TOPK)
    win = Window.orderBy(F.col("cnt").desc(), F.col("user_id"))
    return (
        top.withColumn("rank", F.row_number().over(win))
        .crossJoin(F.broadcast(g))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "user_id",
            "cnt",
            F.expr("cnt * 1000000 div n_events").alias("share_ppm"),
            F.expr("cnt * n_keys * 1000000 div n_events").alias(
                "x_uniform_ppm"
            ),
        )
    )


# --------------------------------------------------------------------------
# Exact per-user median inter-event gap
# --------------------------------------------------------------------------

_GAP_ORACLE = """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    ), gg AS (
      SELECT user_id, gap_us,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY gap_us
             ) AS rk,
             COUNT(*) OVER (PARTITION BY user_id) AS n_gaps
      FROM g WHERE gap_us IS NOT NULL
    )
    SELECT user_id, MAX(n_gaps) + 1 AS n_events,
           MAX(CASE WHEN rk = (n_gaps + 1) // 2 THEN gap_us END)
             AS median_gap_us,
           MAX(gap_us) AS max_gap_us
    FROM gg
    GROUP BY user_id
    """


@register("events_gap_median", oracle=_GAP_ORACLE)
def events_gap_median(spark, sf_dir):
    """Exact per-user median inter-event gap (lower median) plus max gap —
    the cadence profile behind sessionization-gap and watermark choices.
    Medians are exact and distributed: gaps are ranked per user with a
    user-keyed window and the rank-⌈n/2⌉ element is selected; no
    approximate percentile, no global sort (the same rank-selection
    discipline as lineitem_quantile_profile, here per group).

    Gap ties within a user are ranked in gap order (ties are equal values,
    so WHICH equal element wins rank ⌈n/2⌉ never changes the median).
    Users with a single event have no gap and drop out — same in the
    oracle.

    Scale shape: two user-keyed window passes (lag; rank+count) that share
    one hash partitioning, then a partial-combined per-user aggregate:
    one shuffle total.
    """
    events = load_tables(spark, sf_dir, ("events",))["events"]
    lag_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        "user_id",
        (
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(lag_w)
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    rank_w = Window.partitionBy("user_id").orderBy("gap_us")
    cnt_w = Window.partitionBy("user_id")
    gg = g.select(
        "user_id",
        "gap_us",
        F.row_number().over(rank_w).alias("rk"),
        F.count("*").over(cnt_w).alias("n_gaps"),
    )
    return gg.groupBy("user_id").agg(
        (F.max("n_gaps") + 1).cast("long").alias("n_events"),
        F.max(
            F.when(
                F.col("rk") == F.expr("(n_gaps + 1) div 2"), F.col("gap_us")
            )
        ).alias("median_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )
