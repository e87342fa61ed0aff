"""Round-6m wave: exact set-similarity joins, association mining one level
deeper, and sketch-accuracy harnesses — five more published large-scale
techniques in the catalog's exact-integer, oracle-twinned style.

- ``dedup_ppjoin_pairs``  EXACT all-pairs similarity join (Jaccard ≥ 0.5
  over 3-gram shingle-hash sets) via PREFIX FILTERING (Chaudhuri et al.
  2006 / Bayardo et al. 2007 "All-Pairs"): order each document's shingles
  by global rarity and post only the first |d| − ⌈t·|d|⌉ + 1 of them —
  two documents above the threshold MUST share a prefix token, so the
  candidate join touches prefix postings only, never the O(n²) pair
  space.  The DuckDB oracle is the brute-force quadratic join, proving
  the pruned plan loses nothing.
- ``orders_itemset_triples``  frequent 3-itemsets with Apriori candidate
  pruning (Agrawal & Srikant 1994): candidates are generated ONLY from
  frequent pairs sharing a first item and pruned again on the third
  sub-pair before any counting touches the baskets.
- ``events_countmin_accuracy``  Count-Min sketch (Cormode & Muthukrishnan
  2005) with deterministic md5-derived hash rows, evaluated against the
  exact counts it approximates: per heavy key, the sketch estimate, the
  overcount, and the relative error in ppm — the same
  estimate-vs-exact harness discipline as ``dedup_minhash_accuracy``.
- ``lineitem_bloom_fpr``  partitioned Bloom filter (k hash rows × m bits)
  built and probed against ground truth: measured FPR in ppm on the
  (n/m)^k curve, zero false negatives as a structural invariant.
- ``stream_countmin_twin``  the SAME Count-Min counters built by a real
  Structured Streaming availableNow replay (streaming/analytics.py
  countmin_stream) — mergeable sketch state across micro-batches,
  certified ≡ the batch counter table.

Determinism per the package convention: 60-bit md5-prefix hashes
(``conv(substr(md5,1,15),16,10)`` ⇔ ``('0x'||substr(md5,1,15))::BIGINT``),
integer arithmetic end-to-end, truncating division on non-negative
operands, ppm ratios.

Reference anchor: datastax/kafka-sink has no analytics surface (sink/src/main
is record mapping + DSE writes, see SURVEY.md §2); this module extends the
north-star inventory in COVERAGE.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.extensions.dedup import shingle_hashes
from kafka_sink_spark.plans.queries import register
from kafka_sink_spark.plans.stream_twin import finish_stream_twin
from kafka_sink_spark.session import load_tables

# --------------------------------------------------------------------------
# PPJoin-style exact similarity join with prefix filtering
# --------------------------------------------------------------------------

_PP_T_PPM = 500_000  # Jaccard threshold 0.5


@substrates.memo
def _distinct_shingles(spark, sf_dir: str):
    """Distinct (doc_id, shingle-hash) postings, persisted and reused: the
    PPJoin plan consumes this table FOUR times (sizes, document
    frequencies, the ranked prefix build, and the verification set
    arrays), so materializing it once collapses four tokenize+explode+
    distinct recomputations into one — the shared-frontier discipline of
    the span-dup family (VERDICT r5)."""
    from pyspark import StorageLevel

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sh = (
        shingle_hashes(docs, "text")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return sh


_PPJOIN_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(len(t) - 2),
                    i -> ('0x' || substr(md5(array_to_string(t[i+1:i+3], ' ')), 1, 15))::BIGINT)
             ELSE [('0x' || substr(md5(array_to_string(t, ' ')), 1, 15))::BIGINT]
        END) AS s
      FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
           CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS BIGINT)
             AS n_union,
           CAST(len(list_intersect(a.s, b.s)) * 1000000
                // (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                AS BIGINT) AS jaccard_ppm
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 1000000
          >= {_PP_T_PPM} * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
    """


@register("dedup_ppjoin_pairs", oracle=_PPJOIN_ORACLE)
def dedup_ppjoin_pairs(spark, sf_dir):
    """EXACT Jaccard ≥ 0.5 document pairs over 3-gram shingle-hash sets,
    computed with prefix filtering: every document's shingles are ranked
    by global rarity (document frequency asc, hash asc — one total order
    shared corpus-wide) and only the first ``m − ⌈t·m⌉ + 1`` post into
    the candidate index.  If J(a,b) ≥ t, the documents can disagree on at
    most ``(1−t)·|a∪b|`` elements, so their rarity-ordered prefixes must
    overlap — candidates generated this way are a guaranteed SUPERSET of
    the true result (the oracle is the quadratic brute-force join, so the
    guarantee is hash-verified, not assumed).  Survivors are verified with
    the exact intersection of the full shingle sets.

    Scale shape: prefix postings are ~(1−t)·Σ|d| rows — at t=0.5, half
    the full inverted index — and rarity ordering makes the surviving
    posting lists the SHORT ones, bounding per-key self-join fan-out
    (the frequent-shingle quadratic blowup lands on shingles that are
    almost never in any prefix).  Verification joins the compact set
    arrays only for candidate pairs.  Complements MinHash-LSH
    (probabilistic, fixed-cost) with the exact-answer path of the same
    family.
    """
    sh = _distinct_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("m"))
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    pos_w = Window.partitionBy("doc_id").orderBy("df", "h")
    prefix = (
        sh.join(dfreq, "h")
        .join(sizes, "doc_id")
        .select(
            "doc_id",
            "h",
            F.row_number().over(pos_w).alias("pos"),
            F.expr(
                f"m - ((m * {_PP_T_PPM} + 999999) div 1000000) + 1"
            ).alias("plen"),
        )
        .where(F.col("pos") <= F.col("plen"))
        .select("doc_id", "h")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(F.collect_set("h").alias("s"))
    verified = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("n_inter"),
            (
                F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))
            )
            .cast("long")
            .alias("n_union"),
        )
        .where(F.col("n_inter") * 1_000_000 >= _PP_T_PPM * F.col("n_union"))
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "n_inter",
        "n_union",
        F.expr("(n_inter * 1000000) div n_union").alias("jaccard_ppm"),
    )


# --------------------------------------------------------------------------
# Frequent 3-itemsets with Apriori pruning
# --------------------------------------------------------------------------

_TRIPLE_MINSUP = 2


_TRIPLES_ORACLE = f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    )
    SELECT a.pk AS item_a, b.pk AS item_b, c.pk AS item_c,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM li a
    JOIN li b ON a.ok = b.ok AND a.pk < b.pk
    JOIN li c ON a.ok = c.ok AND b.pk < c.pk
    GROUP BY a.pk, b.pk, c.pk
    HAVING COUNT(*) >= {_TRIPLE_MINSUP}
    """


@register("orders_itemset_triples", oracle=_TRIPLES_ORACLE)
def orders_itemset_triples(spark, sf_dir):
    """Frequent 3-itemsets (parts bought together in ≥ {sup} orders) with
    Apriori candidate pruning: frequent PAIRS are counted first, candidate
    triples are generated only by joining frequent pairs that share their
    first item ((a,b) ⋈ (a,c), b < c), pruned again by requiring the third
    sub-pair (b,c) to be frequent (the Apriori downward-closure property),
    and only then counted against the baskets.  The oracle is the direct
    three-way basket self-join — brute force — so the pruned plan is
    hash-verified lossless.

    Scale shape: the basket self-join for PAIRS is fanned out per order
    (bounded by basket size squared, never all-parts²); candidate triples
    live in frequent-pair space (tiny — support pruning is exponential in
    level), broadcast to the final count join.  This is exactly one
    Apriori level deeper than ``orders_market_basket`` and composes with
    it.
    """
    li = (
        load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .select("a.ok", F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb"))
    )
    fp = (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= _TRIPLE_MINSUP)
        .select("pa", "pb")
    )
    cand = (
        fp.alias("x")
        .join(
            fp.alias("y"),
            (F.col("x.pa") == F.col("y.pa")) & (F.col("x.pb") < F.col("y.pb")),
        )
        .select(
            F.col("x.pa").alias("item_a"),
            F.col("x.pb").alias("item_b"),
            F.col("y.pb").alias("item_c"),
        )
        .join(
            fp.select(F.col("pa").alias("item_b"), F.col("pb").alias("item_c")),
            ["item_b", "item_c"],
            "left_semi",
        )
    )
    triple_occ = (
        pairs.select("ok", F.col("pa").alias("item_a"), F.col("pb").alias("item_b"))
        .join(
            li.select(F.col("ok"), F.col("pk").alias("item_c")),
            "ok",
        )
        .where(F.col("item_c") > F.col("item_b"))
        # Apriori candidates under an ABSOLUTE minsup grow with SF (more
        # pairs clear the bar on more data), so no broadcast hint — AQE
        # decides by measured size (r13 audit; r6 constant-size rule).
        .join(cand, ["item_a", "item_b", "item_c"], "left_semi")
    )
    return (
        triple_occ.groupBy("item_a", "item_b", "item_c")
        .agg(F.count("*").cast("long").alias("support"))
        .where(F.col("support") >= _TRIPLE_MINSUP)
    )


# --------------------------------------------------------------------------
# Count-Min sketch accuracy harness
# --------------------------------------------------------------------------

_CM_D = 3  # hash rows
_CM_W = 64  # counters per row (forces real collisions at sf0.01+)
_CM_TOPK = 20


def _cm_bucket_sql(i: str, key: str) -> str:
    """Shared Spark/DuckDB 60-bit md5 bucket: hash row ``i``, key ``key``."""
    return (
        f"('0x' || substr(md5('cm' || CAST({i} AS VARCHAR) || ':' "
        f"|| CAST({key} AS VARCHAR)), 1, 15))::BIGINT % {_CM_W}"
    )


_CM_ORACLE = f"""
    WITH exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY user_id
    ), rows_ AS (
      SELECT exact.user_id, exact.exact_cnt, i,
             {_cm_bucket_sql('i', 'exact.user_id')} AS bucket
      FROM exact, unnest(range({_CM_D})) AS u(i)
    ), counters AS (
      SELECT i, bucket, SUM(exact_cnt) AS cnt FROM rows_ GROUP BY i, bucket
    ), est AS (
      SELECT r.user_id, MAX(r.exact_cnt) AS exact_cnt,
             MIN(c.cnt) AS cm_est
      FROM rows_ r JOIN counters c ON c.i = r.i AND c.bucket = r.bucket
      GROUP BY r.user_id
    ), top AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, user_id) AS rk
      FROM est
    )
    SELECT CAST(rk AS BIGINT) AS rk, user_id, exact_cnt,
           CAST(cm_est AS BIGINT) AS cm_est,
           CAST(cm_est - exact_cnt AS BIGINT) AS overcount,
           CAST((cm_est - exact_cnt) * 1000000 // exact_cnt AS BIGINT)
             AS err_ppm
    FROM top WHERE rk <= {_CM_TOPK}
    """


@register("events_countmin_accuracy", oracle=_CM_ORACLE)
def events_countmin_accuracy(spark, sf_dir):
    """Count-Min sketch accuracy report: a d={d}, w={w} sketch over
    per-user event counts (md5-derived hash rows, deterministic in both
    engines), read back for the top-{k} heaviest users against their
    exact counts — estimate, overcount, and relative error in ppm.
    Count-Min never undercounts (each counter sums a superset of the
    key's rows), so ``overcount ≥ 0`` always; with w={w} and ~150 keys
    at sf0.01 collisions are real and the error profile is non-trivial.

    Scale shape: counters are built from the (already partial-combined)
    per-key exact counts — {d} rows per KEY, not per event — grouped into
    a {d}×{w} table, which is broadcast-sized by construction at ANY data
    scale; the estimate read-back joins keys to that tiny table.  In
    production the exact-count input is replaced by the raw stream and
    the counter table is the mergeable state — the harness exists to
    certify the hash/row/min plumbing and measure its error against
    ground truth, the same discipline as ``dedup_minhash_accuracy``.
    """
    events = load_tables(spark, sf_dir, ("events",))["events"]
    exact = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("exact_cnt")
    )
    rows = exact.select(
        "user_id",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(_CM_D - 1))).alias("i"),
    ).select(
        "*",
        F.expr(
            f"CAST(conv(substr(md5(concat('cm', CAST(i AS STRING), ':', "
            f"CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % {_CM_W}"
        )
        .cast("long")
        .alias("bucket"),
    )
    counters = rows.groupBy("i", "bucket").agg(F.sum("exact_cnt").alias("cnt"))
    est = (
        rows.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("user_id")
        .agg(
            F.max("exact_cnt").alias("exact_cnt"),
            F.min("cnt").cast("long").alias("cm_est"),
        )
    )
    # Global top-k via orderBy().limit() (TakeOrderedAndProject: per-
    # partition top-k, k-row merge); the rank window then runs on the k
    # survivors only — never the whole key table through one partition.
    top = (
        est.orderBy(F.col("exact_cnt").desc(), F.col("user_id"))
        .limit(_CM_TOPK)
        .select(
            "*",
            F.row_number()
            .over(Window.orderBy(F.col("exact_cnt").desc(), F.col("user_id")))
            .cast("long")
            .alias("rk"),
        )
    )
    return top.select(
        "rk",
        "user_id",
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).alias("overcount"),
        F.expr("((cm_est - exact_cnt) * 1000000) div exact_cnt").alias("err_ppm"),
    )


orders_itemset_triples.__doc__ = orders_itemset_triples.__doc__.replace(
    "{sup}", str(_TRIPLE_MINSUP)
)
events_countmin_accuracy.__doc__ = events_countmin_accuracy.__doc__.format(
    d=_CM_D, w=_CM_W, k=_CM_TOPK
)


# --------------------------------------------------------------------------
# Bloom filter false-positive-rate harness
# --------------------------------------------------------------------------

_BF_M = 4096  # bits
_BF_K = 3  # hash rows
# member set: parts returned at full quantity — selective enough (≈18% of
# parts at sf0.01) that the non-member probe population is large and the
# measured FPR is statistically meaningful.
_BF_COND = "l_returnflag = 'R' AND l_quantity >= 50"


_BLOOM_ORACLE = f"""
    WITH members AS (
      SELECT DISTINCT l_partkey AS pk FROM lineitem WHERE {_BF_COND}
    ), bits AS (
      SELECT DISTINCT i,
             ('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || ':'
                  || CAST(pk AS VARCHAR)), 1, 15))::BIGINT % {_BF_M} AS bit
      FROM members, unnest(range({_BF_K})) AS u(i)
    ), probes AS (
      SELECT p.p_partkey AS pk, i,
             ('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || ':'
                  || CAST(p.p_partkey AS VARCHAR)), 1, 15))::BIGINT % {_BF_M}
               AS bit
      FROM part p, unnest(range({_BF_K})) AS u(i)
    ), verdicts AS (
      SELECT pr.pk,
             CAST(COUNT(b.bit) AS BIGINT) = {_BF_K} AS positive,
             MAX(CASE WHEN m.pk IS NOT NULL THEN 1 ELSE 0 END) = 1 AS member
      FROM probes pr
      LEFT JOIN bits b ON b.i = pr.i AND b.bit = pr.bit
      LEFT JOIN members m ON m.pk = pr.pk
      GROUP BY pr.pk
    )
    SELECT CAST({_BF_M} AS BIGINT) AS m_bits, CAST({_BF_K} AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set,
           CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN NOT member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonmembers,
           CAST(SUM(CASE WHEN member AND NOT positive THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_neg,
           CAST(SUM(CASE WHEN NOT member AND positive THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN NOT member AND positive THEN 1 ELSE 0 END)
                * 1000000
                // SUM(CASE WHEN NOT member THEN 1 ELSE 0 END) AS BIGINT)
             AS fpr_ppm
    FROM verdicts
    """


@register("lineitem_bloom_fpr", oracle=_BLOOM_ORACLE)
def lineitem_bloom_fpr(spark, sf_dir):
    """Bloom-filter false-positive-rate harness: a PARTITIONED Bloom
    filter — k={k} hash rows, each with its OWN m={m}-bit array (the
    (row, bit) keying below; the variant cache-blocked Bloom filters
    use) — is built over the part keys returned at full quantity and
    probed with EVERY part key; the report compares sketch verdicts to
    ground truth — members, non-members, false positives, the measured
    FPR in ppm, and false negatives (which a Bloom filter can never
    produce — the column is a structural invariant, asserted = 0 in
    tests).  The partitioned FPR is Π_i(load_i) ≈ (n/m)^k for n ≪ m;
    the measured rate lands on it (≈600 ppm at sf0.01), verified in the
    verify harness.  Completes the sketch family's estimate-vs-exact discipline
    (KMV distinct-count, MinHash Jaccard, Count-Min frequency,
    Misra-Gries heavy hitters — and the engine-native runtime bloom
    injection pinned by tests/test_runtime_filter.py).

    Scale shape: the bit table is ≤ m rows REGARDLESS of member count
    (distinct bits, mergeable across partitions — the same property
    Spark's runtime bloom filters rely on); probes join the bit table by
    (row, bit) — broadcast-sized by construction — plus one broadcast
    membership semi-join for ground truth.  Everything else is
    partial-combined counting into a single summary row.
    """
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    members = (
        t["lineitem"]
        .where(F.expr(_BF_COND))
        .select(F.col("l_partkey").alias("pk"))
        .distinct()
    )

    def _bits(df):
        return df.select(
            "pk", F.explode(F.sequence(F.lit(0), F.lit(_BF_K - 1))).alias("i")
        ).select(
            "pk",
            "i",
            F.expr(
                f"CAST(conv(substr(md5(concat('bf', CAST(i AS STRING), ':', "
                f"CAST(pk AS STRING))), 1, 15), 16, 10) AS BIGINT) % {_BF_M}"
            ).alias("bit"),
        )

    bits = _bits(members).select("i", "bit").distinct()
    probes = _bits(t["part"].select(F.col("p_partkey").alias("pk")))
    verdicts = (
        probes.join(
            F.broadcast(
                bits.select(
                    F.col("i").alias("set_i"), F.col("bit").alias("set_bit")
                )
            ),
            (probes.i == F.col("set_i")) & (probes.bit == F.col("set_bit")),
            "left",
        )
        .groupBy("pk")
        .agg((F.count("set_bit") == _BF_K).alias("positive"))
        # members = distinct matching partkeys — grows with SF, so the
        # truth-label join is unhinted (r13 audit); the BITS broadcast
        # above stays: it is capped at K x M cells by construction.
        .join(members.withColumn("member", F.lit(True)), "pk", "left")
        .select("pk", "positive", F.coalesce("member", F.lit(False)).alias("member"))
    )
    n_bits = bits.agg(F.count("*").cast("long").alias("bits_set"))
    summary = verdicts.agg(
        F.lit(_BF_M).cast("long").alias("m_bits"),
        F.lit(_BF_K).cast("long").alias("k"),
        F.sum(F.when(F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_members"),
        F.sum(F.when(~F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_nonmembers"),
        F.sum(F.when(F.col("member") & ~F.col("positive"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_neg"),
        F.sum(F.when(~F.col("member") & F.col("positive"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )
    return summary.crossJoin(F.broadcast(n_bits)).select(
        "m_bits",
        "k",
        "bits_set",
        "n_members",
        "n_nonmembers",
        "n_false_neg",
        "n_false_pos",
        F.expr("(n_false_pos * 1000000) div n_nonmembers").alias("fpr_ppm"),
    )


lineitem_bloom_fpr.__doc__ = lineitem_bloom_fpr.__doc__.format(m=_BF_M, k=_BF_K)


# --------------------------------------------------------------------------
# Streaming Count-Min twin (real availableNow replay)
# --------------------------------------------------------------------------

_STREAM_CM_RUNS = iter(range(1_000_000))


_STREAM_CM_ORACLE = f"""
    WITH b AS (
      SELECT i,
             ('0x' || substr(md5('cm' || CAST(i AS VARCHAR) || ':'
                  || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % {_CM_W}
               AS bucket
      FROM events, unnest(range({_CM_D})) AS u(i)
    )
    SELECT CAST(i AS BIGINT) AS i, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM b GROUP BY i, bucket
    """


@register("stream_countmin_twin", oracle=_STREAM_CM_ORACLE)
def stream_countmin_twin(spark, sf_dir):
    """The STREAMING Count-Min counter build (streaming/analytics.py
    countmin_stream), certified by executing the real streaming query:
    the events table replays through a file stream with
    ``trigger(availableNow=True)`` in update mode, and the per-counter
    max emission (counts are monotone) must equal the batch/oracle
    counter table.  Together with ``events_countmin_accuracy`` (which
    reads the same counters back against exact per-key counts) this
    certifies the full sketch lifecycle: mergeable build under
    micro-batch semantics, then read-out error against ground truth.

    Scale shape: streaming state is exactly d×w counter rows — constant
    in stream length and key cardinality; the only shuffle is the
    (i, bucket) exchange of any streaming aggregation.
    """
    import tempfile

    events = load_tables(spark, sf_dir, ("events",))["events"]
    src = tempfile.mkdtemp(prefix="stream_cm_src_")
    events.select("user_id").write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("user_id long").parquet(src)
    from kafka_sink_spark.streaming.analytics import countmin_stream

    name = f"stream_cm_twin_{next(_STREAM_CM_RUNS)}"
    ck = tempfile.mkdtemp(prefix="stream_cm_ck_")
    q = (
        countmin_stream(stream, d=_CM_D, w=_CM_W)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    result = (
        spark.table(name)
        .groupBy("i", "bucket")
        .agg(F.max("cnt").cast("long").alias("cnt"))
        .select(F.col("i").cast("long").alias("i"), "bucket", "cnt")
    )
    return finish_stream_twin(spark, q, name, result, (src, ck))
