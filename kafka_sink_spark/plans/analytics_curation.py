"""Curation / temporal-join wave: as-of join, bucketed range join, KMV
cardinality sketch, stratified sampling, sequence packing, term ranking,
funnel analysis, exact quantile profile.

These are north-star extension operators (the reference has no joins or
aggregations at all — SURVEY §2.7); each has a DuckDB oracle twin. The
as-of oracle deliberately uses DuckDB's native ``ASOF JOIN`` so the two
engines implement the semantics through entirely different algorithms
(union+window vs DuckDB's dedicated operator) and must still agree.

Cross-engine determinism (see plans/queries.py header): money sums in
decimal, hashes via md5, no transcendentals, quantiles defined by rank
(no interpolation arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.extensions import curation, sketch, text
from kafka_sink_spark.operators.ranges import range_join_bucketed
from kafka_sink_spark.operators.temporal import asof_join
from kafka_sink_spark.plans.queries import register
from kafka_sink_spark.session import load_tables, spread_small_scan


# --------------------------------------------------------------------------
# As-of join: purchase -> latest preceding click of the same user
# --------------------------------------------------------------------------


@register(
    "events_asof_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id,
           CAST(p.user_id AS BIGINT) AS user_id,
           c.event_id AS click_id,
           c.value AS click_value,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def events_asof_attribution(spark, sf_dir):
    """Attribution as-of join: every purchase is attributed to the latest
    click of the same user at-or-before the purchase time (nulls when the
    user never clicked before).

    Spark side: operators/temporal.py union+window — NO join node in the
    plan, one shuffle on user_id (test_plan_invariants pins this). Oracle
    side: DuckDB's native ASOF JOIN — an independent algorithm that must
    agree row-for-row."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("ts"),
        F.col("event_id"),
        F.col("value"),
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        ts_col="ts",
        payload={"event_id": "click_id", "value": "click_value", "ts": "click_ts"},
        tiebreak="event_id",
    )
    return out.select(
        "purchase_id",
        "user_id",
        "click_id",
        "click_value",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("click_ts"))).alias(
            "gap_us"
        ),
    )


# --------------------------------------------------------------------------
# Range join: events matched to overlapping value bands, via bucketing
# --------------------------------------------------------------------------

_N_BANDS = 25
_BAND_STEP = 20
_BAND_WIDTH = 50


@register(
    "events_value_band_join",
    oracle=f"""
    WITH bands AS (
      SELECT CAST(i AS BIGINT) AS band_id,
             CAST(i * {_BAND_STEP} AS DOUBLE) AS lo,
             CAST(i * {_BAND_STEP} + {_BAND_WIDTH} AS DOUBLE) AS hi
      FROM range({_N_BANDS}) t(i)
    )
    SELECT b.band_id, b.lo, b.hi,
           COUNT(e.event_id) AS n_events,
           CAST(CAST(COALESCE(SUM(CAST(e.value AS DECIMAL(12,2))), 0)
                AS DECIMAL(38,6)) AS DOUBLE) AS sum_value
    FROM bands b
    JOIN events e ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band_id, b.lo, b.hi
    """,
)
def events_value_band_join(spark, sf_dir):
    """Overlapping value-band (range) join: bands [20i, 20i+50) for
    i in 0..24 — every event matches 2-3 bands, so this is a genuine
    interval join, not bucketing in disguise.

    Spark side: operators/ranges.py bucketed equi-join (bucket width 20) —
    the plan contains an equi hash/merge join on the bucket id and NO
    BroadcastNestedLoopJoin/CartesianProduct (test_plan_invariants pins
    this). Money summed in decimal(12,2) for cross-engine exactness."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    bands = spark.range(_N_BANDS).select(
        F.col("id").alias("band_id"),
        (F.col("id") * _BAND_STEP).cast("double").alias("lo"),
        (F.col("id") * _BAND_STEP + _BAND_WIDTH).cast("double").alias("hi"),
    )
    joined = range_join_bucketed(
        events.select("event_id", "value"),
        "value",
        bands,
        "lo",
        "hi",
        bucket_width=_BAND_STEP,
    )
    return joined.groupBy("band_id", "lo", "hi").agg(
        F.count("event_id").alias("n_events"),
        F.coalesce(
            F.sum(F.col("value").cast("decimal(12,2)")), F.lit(0)
        ).cast("decimal(38,6)").cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# KMV distinct sketch: distinct 8-char shingles per language
# --------------------------------------------------------------------------

_KMV_K = 256


@register(
    "shingle_kmv_estimate",
    oracle=f"""
    WITH n AS (
      SELECT lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nm
      FROM documents
    ), sh AS (
      SELECT lang,
             unnest(list_transform(range(GREATEST(length(nm) - 7, 1)),
                                   i -> substr(nm, i + 1, 8))) AS shingle
      FROM n
    ), d AS (
      SELECT DISTINCT lang,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
      FROM sh
    ), r AS (
      SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h ASC) AS rn
      FROM d
    )
    SELECT lang,
           CAST(CASE WHEN MAX(CASE WHEN rn = {_KMV_K} THEN h END) IS NOT NULL
                THEN FLOOR({_KMV_K - 1}.0 * 1152921504606846976.0
                           / CAST(MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS DOUBLE))
                ELSE MAX(rn) END AS BIGINT) AS n_est
    FROM r GROUP BY lang
    """,
)
def shingle_kmv_estimate(spark, sf_dir):
    """Distinct 8-char-shingle count per language via the KMV bottom-k sketch
    (k=256), PRODUCTION path: the rank filter compiles to WindowGroupLimit so
    each map task keeps only its local k smallest hashes — O(k) state per
    group at any scale (pinned in test_plan_invariants). The estimate is
    cross-engine deterministic because the hash is md5-derived, not an
    engine-internal HLL (extensions/sketch.py explains the trade); the
    estimate-vs-exact accuracy comparison lives in
    tests/test_temporal_ranges.py::test_kmv_estimate_within_tolerance.

    Doc-size note: for LARGE documents (≥ a few KB) swap the flat explode
    for sketch.kmv_bottom_k_array — per-doc bottom-k pre-reduction caps the
    explode at k rows/doc (provably the same sketch; equivalence pinned in
    tests). At this corpus's ~500-char docs the flat explode + map-side
    distinct is faster (the per-doc array_sort overhead only pays for itself
    once windows/doc ≫ k)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # ~500 md5-hashed windows per doc fan out of the scan: spread the
    # single-row-group input so the shingling isn't single-core (guide §2.2).
    docs = spread_small_scan(docs, spark)
    nm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    shingles = docs.select(F.col("lang"), nm.alias("_nm")).select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("_nm") - 7, F.lit(1))),
                lambda i: F.col("_nm").substr(i, F.lit(8)),
            )
        ).alias("shingle"),
    )
    return sketch.kmv_distinct(
        shingles, ["lang"], F.col("shingle"), k=_KMV_K, with_exact=False
    ).select("lang", "n_est")


# --------------------------------------------------------------------------
# Deterministic stratified sampling
# --------------------------------------------------------------------------

_SAMPLE_CAP = 10


@register(
    "docs_sample_stratified",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang, source,
             CAST(row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC
             ) AS INTEGER) AS sample_rank
      FROM documents
    )
    SELECT doc_id, lang, source, sample_rank
    FROM r WHERE sample_rank <= {_SAMPLE_CAP}
    """,
)
def docs_sample_stratified(spark, sf_dir):
    """Deterministic stratified sample: per (lang, source) stratum keep the
    {cap} docs with the smallest md5(doc_id) — reproducible across runs,
    engines, and partitionings (rand() is none of those). The rank filter
    compiles to WindowGroupLimit: each map task keeps its local top-cap
    before the shuffle (pinned in test_plan_invariants)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = curation.stratified_sample(
        docs, ["lang", "source"], F.col("doc_id"), cap=_SAMPLE_CAP
    )
    return out.select("doc_id", "lang", "source", "sample_rank")


# --------------------------------------------------------------------------
# Sequence packing (concat-and-chunk)
# --------------------------------------------------------------------------

_PACK_BUDGET = 512


@register(
    "docs_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_units
      FROM documents
    )
    SELECT doc_id, lang, n_units,
           CAST(FLOOR((SUM(n_units) OVER w - n_units) / {_PACK_BUDGET}.0)
                AS INTEGER) AS shard_id,
           CAST(SUM(n_units) OVER w AS BIGINT) AS cum_units
    FROM t
    WINDOW w AS (PARTITION BY lang ORDER BY doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def docs_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing: per language, documents are
    concatenated in doc_id order and cut every {budget} whitespace tokens;
    shard_id is the chunk where each doc starts. One window cumulative sum
    — one shuffle on lang, sort within groups, no sequential recurrence."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = curation.pack_sequences(
        docs,
        ["lang"],
        "doc_id",
        text.token_count(F.col("text")).cast("bigint"),
        budget=_PACK_BUDGET,
    )
    return out.select("doc_id", "lang", "n_units", "shard_id", "cum_units")


# --------------------------------------------------------------------------
# Corpus term ranking (tf/df, transcendental-free)
# --------------------------------------------------------------------------

_TOP_TERMS = 10


@register(
    "corpus_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      FROM documents
    ), tf AS (
      SELECT lang, term, COUNT(*) AS tf
      FROM toks GROUP BY lang, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df
      FROM toks GROUP BY term
    ), scored AS (
      SELECT tf.lang, tf.term, tf.tf, df.df,
             round(CAST(tf.tf AS DOUBLE) / df.df, 6) AS score,
             CAST(row_number() OVER (
               PARTITION BY tf.lang
               ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term ASC
             ) AS INTEGER) AS rank
      FROM tf JOIN df ON tf.term = df.term
    )
    SELECT lang, term, tf, df, score, rank
    FROM scored WHERE rank <= {_TOP_TERMS}
    """,
)
def corpus_top_terms(spark, sf_dir):
    """Per-language top terms by tf/df (term frequency over document
    frequency — ranks identically to tf·idf for fixed corpus size, without
    log(): libm transcendentals are not bit-identical across engines, IEEE
    division is). df side is one row per distinct term — vocabulary grows
    sublinearly (Heaps' law) but UNBOUNDEDLY with the corpus, and it is a
    STRING-keyed side, the class the r13 sf30 ladder showed AQE mis-sizing
    into driver-OOM broadcasts (compressed estimate under the 64 MB
    threshold, deserialized build past maxResultSize) — so the join is
    pinned shuffle_hash, never broadcast at any vocabulary size."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("term"),
    )
    tf = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df.hint("shuffle_hash"), "term")
    ratio = F.col("tf").cast("double") / F.col("df")
    w = Window.partitionBy("lang").orderBy(ratio.desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOP_TERMS)
        .select(
            "lang", "term", "tf", "df", F.round(ratio, 6).alias("score"), "rank"
        )
    )


# --------------------------------------------------------------------------
# Funnel analysis: signup -> click -> purchase, strictly ordered in time
# --------------------------------------------------------------------------


@register(
    "events_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT 1 AS stage, 'signup' AS name, COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT 2 AS stage, 'click_after_signup' AS name, COUNT(*) AS n_users FROM s2
    UNION ALL
    SELECT 3 AS stage, 'purchase_after_click' AS name, COUNT(*) AS n_users FROM s3
    """,
)
def events_funnel_conversion(spark, sf_dir):
    """Ordered funnel: users who signed up, then clicked strictly after the
    first signup, then purchased strictly after that first click. Each stage
    is a keyed aggregate + equi-join on user_id — co-partitioned shuffles,
    no windows over the full stream, cardinality shrinks per stage."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    s1 = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        events.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _count(df: DataFrame, stage: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.lit(name).alias("name"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return (
        _count(s1, 1, "signup")
        .unionByName(_count(s2, 2, "click_after_signup"))
        .unionByName(_count(s3, 3, "purchase_after_click"))
    )


# --------------------------------------------------------------------------
# Exact rank-based quantile profile (no interpolation arithmetic)
# --------------------------------------------------------------------------

_QS = (25, 50, 75, 95)


@register(
    "lineitem_quantile_profile",
    oracle=f"""
    WITH r AS (
      SELECT l_returnflag,
             l_extendedprice,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC
             ) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           MAX(n) AS n_rows,
           {", ".join(
               f"MAX(CASE WHEN rn = CAST(FLOOR(CAST(0.{q:02d} AS DOUBLE) * (n - 1)) AS BIGINT) + 1 "
               f"THEN l_extendedprice END) AS p{q}"
               for q in _QS
           )}
    FROM r GROUP BY l_returnflag
    """,
)
def lineitem_quantile_profile(spark, sf_dir):
    """Quantile profile per return flag, defined by RANK (lower-value
    convention: element at index floor(q·(n-1))) — no interpolation
    arithmetic, so the result is an actual data value and bit-identical
    across engines. At 100 TB swap in approx_percentile with the same rank
    convention; the exact path here is the oracle-checkable reference."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").asc(), F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    # Partition count over the SAME ordered spec with an explicit unbounded
    # frame: row_number and the count then share one Window exec node (an
    # unordered Window.partitionBy spec would plan a second Window pass).
    wn = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    r = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    aggs = [F.max("n").alias("n_rows")]
    for q in _QS:
        idx = (F.floor(F.lit(q / 100.0) * (F.col("n") - 1)) + 1).cast("bigint")
        aggs.append(
            F.max(F.when(F.col("rn") == idx, F.col("l_extendedprice"))).alias(
                f"p{q}"
            )
        )
    return r.groupBy("l_returnflag").agg(*aggs)


# --------------------------------------------------------------------------
# Train/benchmark contamination detection (decontamination)
# --------------------------------------------------------------------------

_CONTAM_MIN_OVERLAP = 0.05


@register(
    "contamination_overlap",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nm
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(GREATEST(length(nm) - 7, 1)),
                                   i -> substr(nm, i + 1, 8))) AS shingle
      FROM n
    ), bench AS (
      SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 97 = 0
    ), bn AS (
      SELECT bench_id, COUNT(*) AS n_bench FROM bench GROUP BY bench_id
    ), hits AS (
      SELECT s.doc_id AS train_id, b.bench_id, COUNT(*) AS n_shared
      FROM sh s JOIN bench b ON s.shingle = b.shingle
      WHERE s.doc_id <> b.bench_id
      GROUP BY s.doc_id, b.bench_id
    )
    SELECT h.train_id, h.bench_id, h.n_shared, bn.n_bench,
           round(CAST(h.n_shared AS DOUBLE) / bn.n_bench, 6) AS overlap
    FROM hits h JOIN bn ON h.bench_id = bn.bench_id
    WHERE CAST(h.n_shared AS DOUBLE) / bn.n_bench >= {_CONTAM_MIN_OVERLAP}
    """,
)
def contamination_overlap(spark, sf_dir):
    """Train/benchmark decontamination: held-out docs (doc_id % 97 = 0) play
    the benchmark; every training doc sharing >= 5% of a benchmark doc's
    distinct 8-char shingles is flagged with its overlap fraction.

    Scale path: the benchmark side is ~1/97 of the corpus's distinct
    shingles under the held-out proxy — SMALLER than the train side but
    still corpus-scaling, so no broadcast is allowed in either direction:
    not by HINT (r6 rule) and not by AQE either — the r13 sf30 ladder
    caught AQE's compressed-size estimate putting the string-heavy
    shingle side under the 64 MB threshold while the driver-side build
    blew past maxResultSize.  Both joins are PINNED shuffle_hash (the
    excision dup-set discipline of commit d1e1d64, whose shuffle plan was
    additionally 2x faster at sf10).  Only the matched (train, bench)
    pairs ever aggregate."""
    hits, bn = _contam_hits(spark, sf_dir)
    ratio = F.col("n_shared").cast("double") / F.col("n_bench")
    return (
        hits.join(bn.hint("shuffle_hash"), "bench_id")
        .filter(ratio >= _CONTAM_MIN_OVERLAP)
        .select(
            "train_id", "bench_id", "n_shared", "n_bench",
            F.round(ratio, 6).alias("overlap"),
        )
    )


# Shared shingle substrate: (doc_id, shingle) DISTINCT 8-char shingles of
# the normalized corpus — the common root of the contamination chain
# (contamination_overlap), the decontamination chain
# (docs_decontaminate_report) and, through _decon_flagged, both composed
# web-pipeline funnel queries.  Before this cache each consumer re-ran the
# explode+distinct from the raw scan (and each query's plan contained it
# twice: once for the train/probe side, once for the bench side).  House
# substrate discipline (cf. sanitize._excision_per_doc,
# corpus._doc_bigrams): built once per (session, sf_dir), persisted
# MEMORY_AND_DISK.
#
# Partitioning is deliberate (guide §2.4 — two operations keyed the same
# way share one exchange): the explode output is hash-repartitioned by
# ``shingle`` BEFORE the distinct.  HashPartitioning(shingle) satisfies the
# distinct's ClusteredDistribution(doc_id, shingle) (subset rule), the
# bench-side DF window (PARTITION BY shingle) and both chains' probe-side
# join requirement on ``shingle`` — so the big corpus side crosses the wire
# exactly once at substrate build and never again.
@substrates.memo
def _doc_shingles(spark, sf_dir):
    from pyspark import StorageLevel

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    nm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    sh = (
        spread_small_scan(docs, spark)
        .select(F.col("doc_id"), nm.alias("_nm"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("_nm") - 7, F.lit(1))),
                    lambda i: F.col("_nm").substr(i, F.lit(8)),
                )
            ).alias("shingle"),
        )
        .repartition("shingle")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return sh


def _contam_hits(spark, sf_dir):
    """((train_id, bench_id, n_shared), (bench_id, n_bench)) — the
    contamination chain of contamination_overlap.  (The decontamination
    transform below deliberately does NOT reuse it: its chain DF-prunes
    the benchmark shingles before the join, which is what bounds the
    fan-out at scale — see _DECON_MAX_DF.)  The bench-shingle and
    per-bench-doc-count sides grow linearly with the corpus (~1/97 of
    it), so they are PINNED to shuffle joins: the r13 sf30 ladder showed
    that leaving them to AQE OOMs the driver — the compressed shuffle
    size of the string-heavy shingle side slips under the 64 MB
    broadcast threshold while the actual driver-side broadcast build
    exceeds maxResultSize (the same corpus-scaling-side class as the
    excision dup sets, same fix as commit d1e1d64; a broadcast HINT
    would be worse still, r6 rule)."""
    sh = _doc_shingles(spark, sf_dir)
    bench = sh.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    bn = bench.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_bench"))
    hits = (
        sh.join(bench.hint("shuffle_hash"), "shingle")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy(F.col("doc_id").alias("train_id"), F.col("bench_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits, bn


# --------------------------------------------------------------------------
# Embedding per-label centroids (exact fixed-point arithmetic)
# --------------------------------------------------------------------------


@register(
    "embedding_label_centroids",
    oracle="""
    SELECT label,
           CAST(r.i AS INTEGER) AS dim,
           COUNT(*) AS n_vecs,
           CAST(SUM(CAST(FLOOR(CAST(embedding[r.i + 1] AS DOUBLE) * 1000000.0)
                    AS BIGINT)) AS BIGINT) AS sum_millionths,
           CAST(FLOOR(CAST(SUM(CAST(FLOOR(CAST(embedding[r.i + 1] AS DOUBLE)
                                          * 1000000.0) AS BIGINT)) AS DOUBLE)
                      / COUNT(*)) AS BIGINT) AS mean_micro
    FROM embeddings, range(64) r(i)
    GROUP BY label, r.i
    """,
)
def embedding_label_centroids(spark, sf_dir):
    """Per-label centroid of the embedding corpus, in exact fixed-point:
    each float widens exactly to double, scales to millionths, floors to a
    bigint — integer sums are order-independent, so the result is
    bit-identical across engines and partitionings (a raw double sum is
    neither: FP addition order varies with the shuffle).

    Scale: posexplode fans out x64, but partial aggregation combines to one
    row per (label, dim) per task BEFORE the shuffle — the exchange carries
    |labels| x dims rows per task, not the corpus."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "e"),
    ).select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        F.floor(F.col("e").cast("double") * 1000000.0).cast("bigint").alias("m"),
    )
    agg = exploded.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("m").alias("sum_millionths"),
    )
    # Mean reported in floored micro-units: round() lands on exact .5
    # boundaries here (fixed-point inputs) and the engines' half-rules
    # differ (HALF_UP vs half-even); floor is identical in both.
    return agg.select(
        "label",
        "dim",
        "n_vecs",
        "sum_millionths",
        F.floor(
            F.col("sum_millionths").cast("double") / F.col("n_vecs")
        ).cast("bigint").alias("mean_micro"),
    )


# --------------------------------------------------------------------------
# Repetition statistics (Gopher/RefinedWeb-style quality signals)
# --------------------------------------------------------------------------


@register(
    "text_repetition_stats",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), ws AS (
      SELECT doc_id, CAST(len(t) AS INTEGER) AS n_words,
             CAST(len(list_distinct(t)) AS INTEGER) AS n_distinct_words
      FROM toks
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(len(t) - 1),
                                   i -> t[i+1] || ' ' || t[i+2])) AS b
      FROM toks WHERE len(t) >= 2
    ), bc AS (
      SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b
    ), ba AS (
      SELECT doc_id, CAST(MAX(c) AS INTEGER) AS top_c,
             CAST(SUM(c) AS INTEGER) AS nbg
      FROM bc GROUP BY doc_id
    )
    SELECT ws.doc_id, ws.n_words, ws.n_distinct_words,
           round(1.0 - CAST(ws.n_distinct_words AS DOUBLE)
                       / GREATEST(ws.n_words, 1), 6) AS dup_word_fraction,
           COALESCE(ba.top_c, 0) AS top_bigram_count,
           COALESCE(ba.nbg, 0) AS n_bigrams,
           round(CAST(COALESCE(ba.top_c, 0) AS DOUBLE)
                 / GREATEST(COALESCE(ba.nbg, 0), 1), 6) AS top_bigram_fraction
    FROM ws LEFT JOIN ba ON ws.doc_id = ba.doc_id
    """,
)
def text_repetition_stats(spark, sf_dir):
    """Gopher/RefinedWeb repetition signals per document: duplicate-word
    fraction (1 - distinct/total, pure codegen) and the most-frequent-bigram
    share (per-(doc,bigram) hash count -> per-doc max, both with map-side
    partial combine). The standard pre-filters before expensive dedup: a doc
    that is one phrase repeated 50x never reaches MinHash."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return text.repetition_stats(docs)


# --------------------------------------------------------------------------
# PII / URL scrubbing (training-data redaction pass)
# --------------------------------------------------------------------------


@register(
    "text_scrub_pii",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com at https://ex.com/p'
                       || CAST(doc_id AS VARCHAR) || ' ref 12345678'
                  ELSE text END AS t
      FROM documents
    ), s1 AS (
      SELECT doc_id, t,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
      FROM aug
    ), s2 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t1, 'https?://[^\s]+')) AS n_url,
             regexp_replace(t1, 'https?://[^\s]+', '<URL>', 'g') AS t2
      FROM s1
    ), s3 AS (
      SELECT doc_id, n_email, n_url,
             len(regexp_extract_all(t2, '[0-9]{6,}')) AS n_num,
             regexp_replace(t2, '[0-9]{6,}', '<NUM>', 'g') AS t3
      FROM s2
    )
    SELECT doc_id, CAST(n_email AS INTEGER) AS n_email,
           CAST(n_url AS INTEGER) AS n_url, CAST(n_num AS INTEGER) AS n_num,
           md5(t3) AS scrubbed_fingerprint
    FROM s3
    """,
)
def text_scrub_pii(spark, sf_dir):
    """PII/URL redaction pass: emails, URLs, then long digit runs replaced by
    typed sentinels (order matters — an email contains digit runs). Every 3rd
    document gets deterministic synthetic PII appended so the check is
    non-vacuous on this clean corpus. One scan, one projection, chained
    regexp_replace inside codegen; counts are computed on the same
    progressively-scrubbed text in both engines."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    aug = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com at https://ex.com/p"),
            F.col("doc_id").cast("string"), F.lit(" ref 12345678"),
        ),
    ).otherwise(F.col("text"))
    staged = docs.select(F.col("doc_id"), aug.alias("_t"))
    counts = text.scrub_counts(F.col("_t"))
    return staged.select(
        "doc_id",
        counts["email"].cast("int").alias("n_email"),
        counts["url"].cast("int").alias("n_url"),
        counts["digits"].cast("int").alias("n_num"),
        F.md5(text.scrub_text(F.col("_t"))).alias("scrubbed_fingerprint"),
    )


# --------------------------------------------------------------------------
# Temperature-based language rebalancing (multilingual corpus curation)
# --------------------------------------------------------------------------


@register(
    "docs_temperature_resample",
    oracle="""
    WITH c AS (
      SELECT lang, COUNT(*) AS n_lang,
             LEAST(COUNT(*),
                   CAST(FLOOR(4 * sqrt(COUNT(*))) AS BIGINT)) AS cap_lang
      FROM documents GROUP BY lang
    ), r AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC
             ) AS INTEGER) AS t_rank
      FROM documents
    )
    SELECT r.doc_id, r.lang, c.n_lang, c.cap_lang, r.t_rank
    FROM r JOIN c USING (lang) WHERE r.t_rank <= c.cap_lang
    """,
)
def docs_temperature_resample(spark, sf_dir):
    """Temperature sampling (alpha = 0.5) for multilingual rebalancing: each
    language keeps min(n, floor(4 * sqrt(n))) documents, so head languages
    are downsampled toward the sqrt curve while tail languages survive
    intact — the standard alpha-temperature scheme for pretraining mixes,
    made deterministic by ranking docs on md5(doc_id) instead of rand().
    sqrt is IEEE-correctly-rounded in both engines (unlike log/exp), so the
    per-language cap is bit-identical cross-engine.

    Scale: the per-language count aggregate is |langs| rows (broadcast back);
    the rank is one window per language partition. The dynamic per-group cap
    means no WindowGroupLimit pushdown — at 100 TB, precompute caps and pass
    a static per-stratum limit when map-side truncation matters."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    caps = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_lang"))
        .select(
            "lang",
            "n_lang",
            F.least(
                F.col("n_lang"),
                F.floor(F.lit(4) * F.sqrt(F.col("n_lang"))).cast("bigint"),
            ).alias("cap_lang"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc()
    )
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).alias("t_rank")
    )
    return (
        ranked.join(F.broadcast(caps), "lang")
        .filter(F.col("t_rank") <= F.col("cap_lang"))
        .select("doc_id", "lang", "n_lang", "cap_lang", "t_rank")
    )


# --------------------------------------------------------------------------
# Incremental dedup against a prior corpus snapshot
# --------------------------------------------------------------------------


@register(
    "dedup_incremental",
    oracle="""
    WITH snap AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 = 0
    ), incoming AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT i.doc_id, i.fp
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM snap s WHERE s.fp = i.fp)
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental exact dedup: new documents (doc_id % 5 != 0) survive only
    if their content fingerprint is absent from the prior snapshot's
    fingerprint set (doc_id % 5 = 0) — the standard crawl-over-crawl dedup
    step (dedup WITHIN the new batch is a separate op: dedup_exact).

    Scale: a left-anti equi-join on the 128-bit fingerprint — one shuffle
    co-partitioned on fp for both sides; the snapshot side is a stored
    fingerprint table at 100 TB, never the full text."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = F.md5(F.col("text")).alias("fp")
    snap = docs.filter(F.col("doc_id") % 5 == 0).select(fp).distinct()
    incoming = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", fp)
    return incoming.join(snap, "fp", "left_anti").select("doc_id", "fp")


# --------------------------------------------------------------------------
# Document-frequency-pruned near-dup candidate pairs
# --------------------------------------------------------------------------

_DFP_MAX_DF_RECIP = 5   # keep shingles with df <= n_docs / 5 (20%)
_DFP_MIN_SHARED = 2     # candidate pairs must share >= 2 surviving shingles


@register(
    "dedup_df_pruned_pairs",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
             ELSE [array_to_string(t, ' ')] END) AS shingle
      FROM toks
    ), hs AS (
      SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfh AS (SELECT h, COUNT(*) AS df FROM hs GROUP BY h),
    kept AS (
      SELECT h FROM dfh, n
      WHERE df >= 2 AND df * {_DFP_MAX_DF_RECIP} <= n_docs
    ), hk AS (SELECT hs.doc_id, hs.h FROM hs JOIN kept USING (h))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM hk a JOIN hk b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {_DFP_MIN_SHARED}
    """,
)
def dedup_df_pruned_pairs(spark, sf_dir):
    """Near-dup candidate generation via an inverted shingle index with
    document-frequency pruning: 3-gram shingles appearing in more than
    1/{recip} of the corpus are stopword-like and generate quadratic
    candidate noise, so they are dropped BEFORE the self-join; pairs must
    share >= {min_shared} surviving shingles. This is the classic df-pruned
    candidate stage (cf. MinHash banding) with an exact oracle.

    Scale: df pruning caps the per-shingle posting list at n_docs/{recip},
    bounding self-join fan-out per key; the pair aggregate combines
    map-side. The scalar corpus count joins via a single-row broadcast."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from kafka_sink_spark.extensions import dedup

    # The posting table feeds THREE consumers (df ranking, the pruned index,
    # and both sides of the self-join) — and is byte-identical to the PPJoin
    # family's persisted substrate, so read it from there instead of
    # re-materializing a private localCheckpoint copy per call.
    from kafka_sink_spark.plans.analytics_assoc import _distinct_shingles

    hs = _distinct_shingles(spark, sf_dir)
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_h = hs.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    kept = (
        df_h.join(F.broadcast(total))
        .filter(
            (F.col("df") >= 2)
            & (F.col("df") * _DFP_MAX_DF_RECIP <= F.col("n_docs"))
        )
        .select("h")
    )
    hk = hs.join(kept, "h")
    a, b = hk.alias("a"), hk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _DFP_MIN_SHARED)
    )


# --------------------------------------------------------------------------
# Asymmetric containment near-dup (subset documents Jaccard under-scores)
# --------------------------------------------------------------------------

_CONT_MIN = 0.5  # report pairs where either direction's containment >= 0.5


@register(
    "dedup_containment",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
             ELSE [array_to_string(t, ' ')] END) AS shingle
      FROM toks
    ), hs AS (
      SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfh AS (SELECT h, COUNT(*) AS df FROM hs GROUP BY h),
    kept AS (
      SELECT h FROM dfh, n
      WHERE df >= 2 AND df * {_DFP_MAX_DF_RECIP} <= n_docs
    ), hk AS (SELECT hs.doc_id, hs.h FROM hs JOIN kept USING (h)),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM hk a JOIN hk b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {_DFP_MIN_SHARED}
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM hs GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM cand c
      JOIN hs x ON x.doc_id = c.doc_a
      JOIN hs y ON y.doc_id = c.doc_b AND y.h = x.h
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_shared,
           sa.sz AS size_a, sb.sz AS size_b,
           round(CAST(i.n_shared AS DOUBLE) / sa.sz, 6) AS cont_a_in_b,
           round(CAST(i.n_shared AS DOUBLE) / sb.sz, 6) AS cont_b_in_a
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE greatest(CAST(i.n_shared AS DOUBLE) / sa.sz,
                   CAST(i.n_shared AS DOUBLE) / sb.sz) >= {_CONT_MIN}
    """,
)
def dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup: for candidate pairs, report
    |A∩B|/|A| and |A∩B|/|B| over 3-gram shingle sets — the subset-duplicate
    case (a doc embedded inside a longer one) that symmetric Jaccard
    under-scores, the reason dedup pipelines track containment separately
    (cf. Broder's containment resemblance; Lee et al. 2022 §4 discuss the
    substring case). Pairs where either direction reaches {cmin} survive.

    Scale shape, two-phase: candidates come from the DF-PRUNED inverted
    index (posting lists capped at n_docs/{recip}, so the self-join fan-out
    is bounded — never all-pairs); the EXACT intersection then runs only
    for candidate pairs, as a hash-keyed join of the candidate list against
    the full posting table on (doc, h). Set sizes are one partial-combined
    count per doc, broadcast-joined back."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from kafka_sink_spark.extensions import dedup

    from kafka_sink_spark.plans.analytics_assoc import _distinct_shingles

    hs = _distinct_shingles(spark, sf_dir)
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_h = hs.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    kept = (
        df_h.join(F.broadcast(total))
        .filter(
            (F.col("df") >= 2)
            & (F.col("df") * _DFP_MAX_DF_RECIP <= F.col("n_docs"))
        )
        .select("h")
    )
    hk = hs.join(kept, "h")
    a, b = hk.alias("a"), hk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("_nk"))
        .filter(F.col("_nk") >= _DFP_MIN_SHARED)
        .select("doc_a", "doc_b")
    )
    inter = (
        cand.join(hs.select(F.col("doc_id").alias("doc_a"), "h"), "doc_a")
        .join(hs.select(F.col("doc_id").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = hs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ca = F.col("n_shared").cast("double") / F.col("size_a")
    cb = F.col("n_shared").cast("double") / F.col("size_b")
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b")),
            "doc_b",
        )
        .filter(F.greatest(ca, cb) >= _CONT_MIN)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "size_a",
            "size_b",
            F.round(ca, 6).alias("cont_a_in_b"),
            F.round(cb, 6).alias("cont_b_in_a"),
        )
    )


# --------------------------------------------------------------------------
# Round-12f: decontamination as a TRANSFORM (the drop-list readout)
# --------------------------------------------------------------------------


# Benchmark-shingle document-frequency cap: shingles present in MORE than
# this many benchmark docs are corpus boilerplate, not contamination
# signal, and are dropped BEFORE the join (the same DF-pruning discipline
# as docs_mirror_detection's >10-host fingerprint drop).  This is also
# what bounds the join fan-out structurally: each surviving shingle can
# match at most this many benchmark docs, so the hits table is
# <= DF_CAP x train shingles at ANY corpus size.  (The unpruned rule —
# contamination_overlap's — fans out by the shingle's full benchmark DF;
# on this synthetic corpus the saturated 8-char shingle space made that
# ~9 BILLION rows at sf10, caught live by the sf10 ladder.)
_DECON_MAX_DF = 10

# Shared oracle fragment: the DF-pruned decontamination chain down to the
# ``flagged`` drop list.  Consumed by the docs_decontaminate_report oracle
# below AND the composed web-pipeline funnel (plans/analytics_webpipe.py) —
# single-sourced per the r11 log2-template lesson.
_DECON_CTES = f"""n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nm
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(GREATEST(length(nm) - 7, 1)),
                                   i -> substr(nm, i + 1, 8))) AS shingle
      FROM n
    ), bench AS (
      SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 97 = 0
    ), rare AS (
      SELECT bench_id, shingle FROM (
        SELECT bench_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM bench)
      WHERE df <= {_DECON_MAX_DF}
    ), bn AS (
      SELECT bench_id, COUNT(*) AS n_bench FROM rare GROUP BY bench_id
    ), hits AS (
      SELECT s.doc_id AS train_id, b.bench_id, COUNT(*) AS n_shared
      FROM sh s JOIN rare b ON s.shingle = b.shingle
      WHERE s.doc_id <> b.bench_id
      GROUP BY s.doc_id, b.bench_id
    ), flagged AS (
      SELECT DISTINCT h.train_id
      FROM hits h JOIN bn ON bn.bench_id = h.bench_id
      WHERE CAST(h.n_shared AS DOUBLE) / bn.n_bench >= {_CONTAM_MIN_OVERLAP}
    )"""


def _decon_flagged(spark, sf_dir):
    """DISTINCT doc_ids sharing >= {_CONTAM_MIN_OVERLAP:.0%} of any
    benchmark doc's DF-pruned rare shingles — the Spark twin of the
    ``flagged`` CTE in _DECON_CTES, shared by docs_decontaminate_report
    and the composed web-pipeline funnel (analytics_webpipe).  No
    broadcast hints anywhere (r6 constant-size rule): every side grows
    with the corpus, AQE picks the strategies."""
    from pyspark.sql import Window as W

    sh = _doc_shingles(spark, sf_dir)
    bench = sh.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    rare = bench.withColumn(
        "_df", F.count(F.lit(1)).over(W.partitionBy("shingle"))
    ).where(F.col("_df") <= _DECON_MAX_DF).drop("_df")
    bn = rare.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_bench"))
    hits = (
        sh.join(rare.hint("shuffle_hash"), "shingle")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy(F.col("doc_id").alias("train_id"), F.col("bench_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ratio = F.col("n_shared").cast("double") / F.col("n_bench")
    return (
        hits.join(bn.hint("shuffle_hash"), "bench_id")
        .filter(ratio >= _CONTAM_MIN_OVERLAP)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )


@register(
    "docs_decontaminate_report",
    oracle=f"""
    WITH {_DECON_CTES}, train AS (
      SELECT d.doc_id, d.source,
             CAST(len(list_filter(regexp_split_to_array(d.text, '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             CASE WHEN f.train_id IS NOT NULL THEN 1 ELSE 0 END AS dropped
      FROM documents d LEFT JOIN flagged f ON f.train_id = d.doc_id
      WHERE d.doc_id % 97 <> 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(SUM(dropped) AS BIGINT) AS n_dropped,
           CAST(SUM(dropped) * 1000000 // COUNT(*) AS BIGINT) AS dropped_ppm,
           CAST(SUM(CASE WHEN dropped = 0 THEN n_tokens ELSE 0 END)
                AS BIGINT) AS surviving_tokens
    FROM train GROUP BY source
    """,
)
def docs_decontaminate_report(spark, sf_dir):
    """Decontamination as a TRANSFORM: a training doc is dropped when it
    shares >= 5% of a benchmark doc's RARE distinct 8-char shingles
    (benchmark = the doc_id %% 97 == 0 held-out proxy; rare = present in
    <= {df} benchmark docs — ubiquitous shingles are boilerplate, not
    contamination signal, and pruning them is what BOUNDS the join
    fan-out at any corpus size).  The readout is what a pipeline
    publishes when it commits the cut — per source: training docs, docs
    dropped, drop rate in ppm, and the surviving token mass.  Completes
    the measure→transform pair for the contamination firewall the same
    way docs_span_excision completed docs_repeated_spans.

    Scale shape: benchmark shingles are DF-pruned with one window over
    the benchmark side; the DF cap bounds each train shingle's join
    fan-out to <= {df} rows BY CONSTRUCTION, but the pruned set itself
    still grows linearly with the corpus (~1/97 of distinct shingles
    under the proxy), so its joins are PINNED shuffle_hash: no broadcast
    hint (r6 rule), and no AQE broadcast either — the r13 sf30 ladder
    caught AQE mis-sizing the string-heavy shingle side into a
    driver-OOM broadcast build (maxResultSize), the same class the
    excision dup-set fix closed one join upstream.  The drop
    list LEFT-joins the train spine and one partial-combined per-source
    rollup finishes."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    flagged = _decon_flagged(spark, sf_dir).withColumn("_drop", F.lit(1))
    train = (
        docs.where(F.col("doc_id") % 97 != 0)
        .select(
            "doc_id",
            "source",
            text.token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
        .join(flagged, "doc_id", "left")
    )
    return train.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.sum(F.coalesce(F.col("_drop"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
        F.expr(
            "CAST(SUM(COALESCE(_drop, 0)) * 1000000 div COUNT(*)"
            " AS BIGINT)"
        ).alias("dropped_ppm"),
        F.sum(F.when(F.col("_drop").isNull(), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("surviving_tokens"),
    )


docs_decontaminate_report.__doc__ = docs_decontaminate_report.__doc__.format(
    df=_DECON_MAX_DF
)
_decon_flagged.__doc__ = _decon_flagged.__doc__.format(
    _CONTAM_MIN_OVERLAP=_CONTAM_MIN_OVERLAP
)
