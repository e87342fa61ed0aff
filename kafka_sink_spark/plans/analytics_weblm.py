"""Round-11a wave: web-corpus canonical dedup and a held-out Kneser-Ney
bigram LM quality filter — the two CCNet/CommonCrawl pipeline stages the
catalog still lacked (the r10 verdict's #5 ask), in the package's
exact-integer, oracle-twinned style.

- ``docs_url_canonical_dedup``  URL canonicalization + exact canonical-URL
  dedup, the first stage of every CommonCrawl-derived pipeline (Wenzek et
  al. 2020 CCNet; Penedo et al. 2023 RefinedWeb dedup §4.1): each document
  carries a deterministic synthetic URL (scheme/host case noise, default
  ports, tracking params, fragments, trailing slashes — the exact noise
  classes public canonicalizers strip), the canonicalizer is the reusable
  ``extensions.web.canonicalize_url`` column expression (pure built-ins,
  fully codegen), and the report is per-host raw vs canonical counts with
  the duplicate rate in ppm.
- ``docs_host_fuzzy_dedup``  within-host fuzzy content dedup — the
  RefinedWeb/CCNet practice of bucketing by registered host and collapsing
  near-identical pages inside the bucket: the content fingerprint is the
  doc's dominant token (ties lexicographic) + its length octave,
  md5-keyed — a coarse, recall-oriented content-profile bucket; clusters with >1 member are near-dups and the
  min-doc_id member survives.
- ``docs_kn_bigram_nll``  interpolated Kneser-Ney bigram LM (Kneser & Ney
  1995; Chen & Goodman 1999 eq. 4.26, absolute discount D = 3/4 carried as
  the exact rational), trained on the held split doc_id%10<8 and scored on
  the held-out split: per-source mean negative log2-likelihood in ppm-bits
  per bigram.  THE perplexity-style LM quality screen of CCNet's KenLM
  stage, transcendental-free: every probability is an exact rational
  rendered at 1e12 fixed point (the r10 bounded probability-ratio
  convention — log arguments bounded by 1e12 at ANY corpus size) and
  logged on the octave-log2 ladder.
- ``docs_kn_perplexity_filter``  the per-document readout of the same LM:
  held-out documents histogrammed by sixteenth-bit NLL buckets with the
  CCNet-style keep/drop verdict at the fixed 5.0 bits/bigram threshold —
  the shape a perplexity filter sweeps to pick its cut.

Determinism per the package convention: integer arithmetic end-to-end
(DECIMAL(38,0)/HUGEINT intermediates), truncating division on non-negative
operands, octave-log2 ppm-bits with 1e12-bounded arguments, md5 digests,
ties broken on ids.

Reference anchor: datastax/kafka-sink has no analytics surface
(sink/src/main is record mapping + DSE writes, SURVEY.md §2); this module
extends COVERAGE.md's dedup + quality families with the CCNet stages.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.extensions import text
from kafka_sink_spark.extensions.web import canonicalize_url
from kafka_sink_spark.plans.analytics_corpus import _doc_bigrams
from kafka_sink_spark.plans.queries import register
from kafka_sink_spark.session import load_tables

# --------------------------------------------------------------------------
# Synthetic URL derivation (FIXTURES.md style: the documents table has no
# url column, so each doc carries a deterministic URL derived from
# (doc_id, source) — replicated verbatim in the oracle CTE.  The noise
# classes are exactly the ones public canonicalizers normalize: scheme and
# host case, default ports, www prefix, trailing slashes, utm_*/fbclid
# tracking params, unsorted param order, fragments.
# --------------------------------------------------------------------------

_URL_SQL_SPARK = (
    "concat("
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END, '://',"
    "CASE WHEN doc_id % 3 = 0"
    "  THEN upper(concat('www.', source, '.Example.com'))"
    "  ELSE concat('www.', source, '.Example.com') END,"
    "CASE WHEN doc_id % 7 = 0 THEN"
    "  CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END ELSE '' END,"
    "concat('/p/', CAST(doc_id % 11 AS STRING)),"
    "CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,"
    "CASE WHEN doc_id % 4 = 0"
    "  THEN concat('?utm_source=feed&ref=', CAST(doc_id % 3 AS STRING))"
    " WHEN doc_id % 4 = 1"
    "  THEN concat('?ref=', CAST(doc_id % 3 AS STRING), '&utm_campaign=x')"
    " ELSE '' END,"
    "CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END)"
)

_URL_SQL_DUCK = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END || '://' ||"
    " CASE WHEN doc_id % 3 = 0"
    "   THEN upper('www.' || source || '.Example.com')"
    "   ELSE 'www.' || source || '.Example.com' END ||"
    " CASE WHEN doc_id % 7 = 0 THEN"
    "   CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END ELSE '' END ||"
    " '/p/' || CAST(doc_id % 11 AS VARCHAR) ||"
    " CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||"
    " CASE WHEN doc_id % 4 = 0"
    "   THEN '?utm_source=feed&ref=' || CAST(doc_id % 3 AS VARCHAR)"
    "  WHEN doc_id % 4 = 1"
    "   THEN '?ref=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=x'"
    "  ELSE '' END ||"
    " CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END)"
)

# The DuckDB twin of extensions.web.canonicalize_url, stage by stage over a
# column named raw_url (kept in lockstep with the Spark expression; the
# shared structure is pinned by tests/test_weblm.py).
_CANON_DUCK = """
    nf AS (
      SELECT doc_id, split_part(raw_url, '#', 1) AS nofrag FROM raw
    ), sq AS (
      SELECT doc_id, split_part(nofrag, '?', 1) AS base,
             CASE WHEN instr(nofrag, '?') > 0
                  THEN substr(nofrag, instr(nofrag, '?') + 1)
                  ELSE '' END AS qs
      FROM nf
    ), hp AS (
      SELECT doc_id, qs,
             CASE WHEN instr(rest, '/') > 0
                  THEN substr(rest, 1, instr(rest, '/') - 1)
                  ELSE rest END AS hostport,
             CASE WHEN instr(rest, '/') > 0
                  THEN substr(rest, instr(rest, '/'))
                  ELSE '/' END AS rawpath
      FROM (SELECT doc_id, qs,
                   substr(base, instr(base, '://') + 3) AS rest
            FROM sq)
    ), cn AS (
      SELECT doc_id,
             CASE WHEN h2 LIKE 'www.%' THEN substr(h2, 5) ELSE h2 END AS host,
             CASE WHEN p1 = '' THEN '/' ELSE p1 END AS path,
             array_to_string(list_sort(list_filter(string_split(qs, '&'),
               p -> p <> ''
                    AND NOT starts_with(string_split(p, '=')[1], 'utm_')
                    AND string_split(p, '=')[1] <> 'fbclid')), '&') AS qcanon
      FROM (SELECT doc_id, qs,
                   CASE WHEN h1 LIKE '%:443' THEN substr(h1, 1, length(h1) - 4)
                        WHEN h1 LIKE '%:80' THEN substr(h1, 1, length(h1) - 3)
                        ELSE h1 END AS h2,
                   regexp_replace(rawpath, '/+$', '') AS p1
            FROM (SELECT doc_id, qs, lower(hostport) AS h1, rawpath FROM hp))
    ), canon AS (
      SELECT doc_id, host,
             host || path ||
             CASE WHEN qcanon <> '' THEN '?' || qcanon ELSE '' END AS curl
      FROM cn
    )"""


_URL_DEDUP_ORACLE = f"""
    WITH raw AS (
      SELECT doc_id, {_URL_SQL_DUCK} AS raw_url FROM documents
    ), {_CANON_DUCK}
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT curl) AS BIGINT) AS n_canonical,
           CAST((COUNT(*) - COUNT(DISTINCT curl)) * 1000000
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM canon GROUP BY host
    """


@register("docs_url_canonical_dedup", oracle=_URL_DEDUP_ORACLE)
def docs_url_canonical_dedup(spark, sf_dir):
    """Canonical-URL exact dedup — the first screen of every
    CommonCrawl-derived corpus build (CCNet, RefinedWeb): canonicalize
    each document's URL (lowercase scheme+host, strip www./default
    ports/fragments/tracking params, sort surviving params, trim trailing
    slashes — ``extensions.web.canonicalize_url``, pure built-in column
    ops) and report, per registered host, the raw URL count, the distinct
    canonical count, and the duplicate rate in ppm.

    Scale shape: the canonicalizer is a zero-shuffle codegen projection;
    the report is ONE partial-combined aggregate keyed by host with a
    distinct-on-(host, curl) pre-aggregation — both keys are
    data-colocated (curl embeds host), so the distinct and the rollup
    share one shuffle.  At 100 TB this is the standard
    canonical-key-partitioned dedup: no all-pairs stage, no skew beyond
    host popularity (the salting recipe in SCALE.md applies unchanged).
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    canon = (
        docs.select("doc_id", F.expr(_URL_SQL_SPARK).alias("raw_url"))
        .select("doc_id", *canonicalize_url(F.col("raw_url")))
    )
    return (
        canon.select("host", F.col("curl"))
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("curl").cast("long").alias("n_canonical"),
        )
        .select(
            "host",
            "n_urls",
            "n_canonical",
            F.expr(
                "CAST((n_urls - n_canonical) * 1000000 div n_urls AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Within-host fuzzy content dedup
# --------------------------------------------------------------------------

_FUZZY_TOP = 1  # fingerprint = the dominant token (ties lexicographic)


_HOST_FUZZY_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, source || '.example.com' AS host, t.tok
      FROM (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
      ), unnest(toks) AS t(tok)
    ), tc AS (
      SELECT doc_id, host, tok, COUNT(*) AS cnt
      FROM tok GROUP BY 1, 2, 3
    ), rk AS (
      SELECT doc_id, host, tok, cnt,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, tok) AS rn,
             SUM(cnt) OVER (PARTITION BY doc_id) AS dl
      FROM tc
    ), fp AS (
      SELECT doc_id, host,
             md5(string_agg(tok, '|' ORDER BY rn)
                 || '|' || CAST(length(bin(MIN(dl))) - 1 AS VARCHAR))
               AS fingerprint
      FROM rk WHERE rn <= {_FUZZY_TOP}
      GROUP BY doc_id, host
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fingerprint) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) - COUNT(DISTINCT fingerprint) AS BIGINT) AS dup_docs,
           CAST((COUNT(*) - COUNT(DISTINCT fingerprint)) * 1000000
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM fp GROUP BY host
    """


@register("docs_host_fuzzy_dedup", oracle=_HOST_FUZZY_ORACLE)
def docs_host_fuzzy_dedup(spark, sf_dir):
    """Within-host fuzzy content dedup — the RefinedWeb/CCNet second
    screen after canonical-URL dedup: bucket documents by registered host
    (the canonical host of the synthetic URL scheme), fingerprint each
    document's CONTENT PROFILE (its {top} dominant token(s) by count, ties
    lexicographic, plus its length octave, md5-keyed — a coarse,
    recall-oriented blocking profile), and collapse
    same-fingerprint docs inside the host bucket.  Reported per host:
    docs, clusters, near-dup count and rate in ppm.

    Scale shape: token counting is one partial-combined aggregate on
    (doc_id, token); the top-{top} selection is a doc_id-partitioned
    window (never global); the fingerprint rollup and the host report are
    partial-combined aggregates on md5 digests — the exact-dedup shuffle
    shape proven by dedup_exact, bucketed by host so 100 TB corpora
    shard cleanly (host popularity skew → the SCALE.md salting recipe).
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = (
        docs.select(
            "doc_id",
            F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
            F.explode(text.tokens(F.col("text"))).alias("tok"),
        )
        .groupBy("doc_id", "host", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("tok"))
    wd = Window.partitionBy("doc_id")
    rk = tc.select(
        "doc_id",
        "host",
        "tok",
        F.row_number().over(w).alias("rn"),
        F.sum("cnt").over(wd).alias("dl"),
    ).where(F.col("rn") <= _FUZZY_TOP)
    fp = (
        rk.groupBy("doc_id", "host")
        .agg(
            F.md5(
                F.concat(
                    F.array_join(
                        F.expr("transform(array_sort(collect_list("
                               "struct(rn, tok))), s -> s.tok)"),
                        "|",
                    ),
                    F.lit("|"),
                    F.expr("CAST(length(bin(MIN(dl))) - 1 AS STRING)"),
                )
            ).alias("fingerprint")
        )
    )
    return (
        fp.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("fingerprint").cast("long").alias("n_clusters"),
        )
        .select(
            "host",
            "n_docs",
            "n_clusters",
            F.expr("CAST(n_docs - n_clusters AS BIGINT)").alias("dup_docs"),
            F.expr(
                "CAST((n_docs - n_clusters) * 1000000 div n_docs AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


docs_host_fuzzy_dedup.__doc__ = docs_host_fuzzy_dedup.__doc__.format(
    top=_FUZZY_TOP
)


# --------------------------------------------------------------------------
# Held-out Kneser-Ney bigram LM: per-source NLL and the per-doc filter
# --------------------------------------------------------------------------

# octave_log2_ppm(10**12) — the log of the fixed-point scale, subtracted
# from every lg(p_pt) so the readout is NEGATIVE log-likelihood in
# ppm-bits (p_pt < 1e12 always, so the NLL is strictly positive).
_LG1E12 = 39_818_989
_KN_KEEP_QBITS = 80  # keep docs under 5.0 bits/bigram (80 sixteenth-bits)

# Spark/DuckDB octave-log2: the single source of truth lives in
# analytics_readability (r11 ADVICE — the former duplicated copies claimed
# a pin test that did not exist; importing removes the drift surface
# entirely).  Both modules are registered via plans/__init__, so the extra
# import costs nothing.
from kafka_sink_spark.plans.analytics_readability import (  # noqa: E402
    _DUCK_LOG2,
    _SPARK_LOG2,
)

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

# The KN probability of a test bigram, fixed-point 1e12, exact rationals:
#   seen context w1 (c1 rows exist):
#     p = max(c12 - D, 0)/c1 + D * n1(w1)/c1 * nc(w2)/B      with D = 3/4
#       = (max(4*c12 - 3, 0) * B + 3 * n1 * nc) / (4 * c1 * B)
#   unseen context w1: back off to the continuation distribution
#     p = nc(w2)/B
# clamped >= 1 fixed-point unit so the octave log is defined (a true
# probability below 1e-12 carries < 1e-12 of the mass; the r10 bounded
# probability-ratio convention).
_P_PT_DUCK = """
      CASE WHEN c1 IS NULL THEN
        greatest(COALESCE(nc, 0)::HUGEINT * 1000000000000 // B, 1)
      ELSE
        greatest(((CASE WHEN 4 * COALESCE(c12, 0) > 3
                        THEN 4 * COALESCE(c12, 0) - 3 ELSE 0 END)::HUGEINT * B
                  + 3::HUGEINT * n1 * COALESCE(nc, 0))
                 * 1000000000000 // (4::HUGEINT * c1 * B), 1)
      END
"""

_P_PT_SPARK = (
    "CASE WHEN c1 IS NULL THEN"
    " greatest(CAST(COALESCE(nc, 0) AS DECIMAL(38,0)) * 1000000000000 div B,"
    " CAST(1 AS BIGINT))"
    " ELSE"
    " greatest((CAST(CASE WHEN 4 * COALESCE(c12, 0) > 3"
    " THEN 4 * COALESCE(c12, 0) - 3 ELSE 0 END AS DECIMAL(38,0)) * B"
    " + CAST(3 AS DECIMAL(38,0)) * n1 * COALESCE(nc, 0))"
    " * 1000000000000 div (CAST(4 AS DECIMAL(38,0)) * c1 * B),"
    " CAST(1 AS BIGINT)) END"
)

_KN_CTES = f"""bg AS (
      {_BIGRAM_SQL}
    ), tr AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg WHERE doc_id % 10 < 8 GROUP BY w1, w2
    ), mc AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1
      FROM tr GROUP BY w1
    ), cw AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS nc FROM tr GROUP BY w2
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS B FROM tr
    ), te AS (
      SELECT b.doc_id,
             CAST({{p_pt}} AS BIGINT) AS p_pt
      FROM (SELECT * FROM bg WHERE doc_id % 10 >= 8) b
      LEFT JOIN tr ON tr.w1 = b.w1 AND tr.w2 = b.w2
      LEFT JOIN mc ON mc.w1 = b.w1
      LEFT JOIN cw ON cw.w2 = b.w2
      CROSS JOIN tot
    ), perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
             CAST(SUM({_LG1E12} - {{lg}}) AS BIGINT) AS nll_sum
      FROM te GROUP BY doc_id
    )"""


def _kn_nll_oracle() -> str:
    ctes = _KN_CTES.format(
        p_pt=_P_PT_DUCK, lg=_DUCK_LOG2.format(x="p_pt")
    )
    return f"""
    WITH {ctes}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_bg) AS BIGINT) AS n_bigrams,
           CAST(SUM(p.nll_sum) // SUM(p.n_bg) AS BIGINT) AS nll_ppm_bits
    FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.source
    """


# Five consumers (the per-source NLL report, the perplexity filter, the
# order-gain comparison, the per-doc screen and both composed web-funnel
# queries) each re-ran the KN train/score chain: memoize the persisted
# per-doc scores per (session, sf_dir) — house substrate discipline, cf.
# _doc_trigrams below and corpus._doc_bigrams.
@substrates.memo
def _kn_scored(spark, sf_dir):
    """(doc_id, n_bg, nll_sum) over held-out docs — the Spark twin of the
    ``perdoc`` oracle CTE, shared by the per-source NLL report and the
    per-doc perplexity filter.  Persisted + memoized per (session,
    sf_dir) — see the comment above."""
    from pyspark import StorageLevel

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bg = _doc_bigrams(docs)
    tr = (
        bg.where(F.col("doc_id") % 10 < 8)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
    )
    mc = tr.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1"),
    )
    cw = tr.groupBy("w2").agg(F.count("*").cast("long").alias("nc"))
    tot = tr.agg(F.count("*").cast("long").alias("B"))
    te = (
        bg.where(F.col("doc_id") % 10 >= 8)
        .join(tr.hint("shuffle_hash"), ["w1", "w2"], "left")
        .join(mc.hint("shuffle_hash"), ["w1"], "left")
        .join(cw.hint("shuffle_hash"), ["w2"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(f"CAST({_P_PT_SPARK} AS BIGINT)").alias("p_pt"),
        )
    )
    lg = _SPARK_LOG2.format(x="p_pt")
    scored = (
        te.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bg"),
            F.expr(f"CAST(SUM({_LG1E12} - {lg}) AS BIGINT)").alias(
                "nll_sum"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return scored


@register("docs_kn_bigram_nll", oracle=_kn_nll_oracle())
def docs_kn_bigram_nll(spark, sf_dir):
    """Held-out Kneser-Ney bigram LM quality scoring — the CCNet/KenLM
    stage (Wenzek et al. 2020): an interpolated-KN bigram model
    (Kneser & Ney 1995; absolute discount D = 3/4 as the exact rational)
    is trained on the doc_id%10<8 split and every held-out document is
    scored; the report is per-source mean NEGATIVE LOG2-LIKELIHOOD in
    ppm-bits per bigram — the "which sources read unnaturally" signal a
    perplexity screen thresholds.

    Every probability is the exact rational
    (max(4c₁₂−3,0)·B + 3·N1₊(w1,·)·N1₊(·,w2)) / (4·c₁·B) rendered at 1e12
    fixed point (truncating, clamped ≥ 1) and logged on the octave-log2
    ladder — arguments bounded by 1e12 at ANY corpus size (the r10
    convention), so there is no int64 cliff at 100 TB.

    Scale shape: bigram-type counts and both marginals are
    partial-combined aggregates bounded by vocabulary²; scoring joins the
    held-out bigram stream against the three count tables on bigram/word
    keys (vocabulary-bounded sides — broadcastable for real corpora) plus
    a broadcast 1-row total; the rollup is one aggregate per source. One
    tokenize pass, persisted (_doc_bigrams substrate, shared with the
    DSIR/LM-predictability family)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    perdoc = _kn_scored(spark, sf_dir)
    return (
        perdoc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_bg").cast("long").alias("n_bigrams"),
            F.expr("CAST(SUM(nll_sum) div SUM(n_bg) AS BIGINT)").alias(
                "nll_ppm_bits"
            ),
        )
    )


def _kn_filter_oracle() -> str:
    ctes = _KN_CTES.format(
        p_pt=_P_PT_DUCK, lg=_DUCK_LOG2.format(x="p_pt")
    )
    return f"""
    WITH {ctes}
    SELECT qbits,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           qbits < {_KN_KEEP_QBITS} AS keep
    FROM (SELECT CAST((nll_sum // n_bg) // 62500 AS BIGINT) AS qbits
          FROM perdoc)
    GROUP BY qbits
    """


@register("docs_kn_perplexity_filter", oracle=_kn_filter_oracle())
def docs_kn_perplexity_filter(spark, sf_dir):
    """The per-document readout of the held-out KN bigram LM: held-out
    docs histogrammed by SIXTEENTH-BIT buckets of NLL-per-bigram, with the
    CCNet-style keep/drop verdict at the fixed 5.0 bits/bigram cut — the
    exact sweep a perplexity filter runs to place its threshold (CCNet
    keeps the low-perplexity head/middle and drops the tail).

    Scale shape: identical to docs_kn_bigram_nll up to the per-doc
    aggregate; the histogram is one partial-combined aggregate on a
    bounded bucket key (NLL per bigram ≤ lg(1e12) ≈ 40 bits ⇒ ≤ 640
    sixteenth-bit buckets at any scale)."""
    perdoc = _kn_scored(spark, sf_dir)
    return (
        perdoc.select(
            F.expr("CAST((nll_sum div n_bg) div 62500 AS BIGINT)").alias(
                "qbits"
            )
        )
        .groupBy("qbits")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(
            "qbits",
            "n_docs",
            (F.col("qbits") < F.lit(_KN_KEEP_QBITS)).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# Round-11b: cross-host mirror detection (df-pruned fingerprint join)
# --------------------------------------------------------------------------

_MIRROR_MAX_HOSTS = 10  # df-pruning: drop fingerprints seen on > F hosts
_MIRROR_TOPK = 10

_FP_CTES = f"""tok AS (
      SELECT doc_id, source || '.example.com' AS host, t.tok
      FROM (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
      ), unnest(toks) AS t(tok)
    ), tc AS (
      SELECT doc_id, host, tok, COUNT(*) AS cnt
      FROM tok GROUP BY 1, 2, 3
    ), rk AS (
      SELECT doc_id, host, tok, cnt,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, tok) AS rn,
             SUM(cnt) OVER (PARTITION BY doc_id) AS dl
      FROM tc
    ), fp AS (
      SELECT doc_id, host,
             md5(string_agg(tok, '|' ORDER BY rn)
                 || '|' || CAST(length(bin(MIN(dl))) - 1 AS VARCHAR))
               AS fingerprint
      FROM rk WHERE rn <= {_FUZZY_TOP}
      GROUP BY doc_id, host
    )"""

_MIRROR_ORACLE = f"""
    WITH {_FP_CTES}, hf AS (
      SELECT DISTINCT host, fingerprint FROM fp
    ), rare AS (
      SELECT fingerprint FROM hf GROUP BY fingerprint
      HAVING COUNT(*) <= {_MIRROR_MAX_HOSTS}
    ), hfr AS (
      SELECT hf.host, hf.fingerprint FROM hf JOIN rare USING (fingerprint)
    ), pairs AS (
      SELECT a.host AS host_a, b.host AS host_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fp
      FROM hfr a JOIN hfr b
        ON a.fingerprint = b.fingerprint AND a.host < b.host
      GROUP BY 1, 2
    ), sizes AS (
      SELECT host, CAST(COUNT(*) AS BIGINT) AS n_fp FROM hf GROUP BY host
    )
    SELECT host_a, host_b, shared_fp,
           CAST(shared_fp * 1000000
                // least(sa.n_fp, sb.n_fp) AS BIGINT) AS overlap_ppm
    FROM pairs
    JOIN sizes sa ON sa.host = pairs.host_a
    JOIN sizes sb ON sb.host = pairs.host_b
    ORDER BY shared_fp DESC, host_a, host_b LIMIT {_MIRROR_TOPK}
    """


@register("docs_mirror_detection", oracle=_MIRROR_ORACLE)
def docs_mirror_detection(spark, sf_dir):
    """Cross-host mirror detection — the CommonCrawl screen for mirror
    farms / CDNs serving the same content under many hosts: host pairs
    ranked by how many DISTINCT content fingerprints they share, with the
    overlap coefficient shared/min(|A|,|B|) in ppm.

    The pair join is DF-PRUNED (the dedup_df_pruned_pairs discipline): a
    fingerprint seen on more than {maxh} hosts is dropped BEFORE the
    self-join, so a ubiquitous boilerplate fingerprint can never fan out
    H² pairs — true mirrors are identified by RARE shared content, and
    candidate volume stays Σ min(df,F)² per fingerprint.  Scale shape:
    one fingerprint-keyed distinct, one bounded self-join, one
    partial-combined pair rollup, TakeOrderedAndProject top-{k}.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = (
        docs.select(
            "doc_id",
            F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
            F.explode(text.tokens(F.col("text"))).alias("tok"),
        )
        .groupBy("doc_id", "host", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("tok"))
    wd = Window.partitionBy("doc_id")
    fp = (
        tc.select(
            "doc_id",
            "host",
            "tok",
            F.row_number().over(w).alias("rn"),
            F.sum("cnt").over(wd).alias("dl"),
        )
        .where(F.col("rn") <= _FUZZY_TOP)
        .groupBy("doc_id", "host")
        .agg(
            F.md5(
                F.concat(
                    F.array_join(
                        F.expr("transform(array_sort(collect_list("
                               "struct(rn, tok))), s -> s.tok)"),
                        "|",
                    ),
                    F.lit("|"),
                    F.expr("CAST(length(bin(MIN(dl))) - 1 AS STRING)"),
                )
            ).alias("fingerprint")
        )
    )
    hf = fp.select("host", "fingerprint").distinct()
    rare = (
        hf.groupBy("fingerprint")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= _MIRROR_MAX_HOSTS)
        .select("fingerprint")
    )
    hfr = hf.join(rare.hint("shuffle_hash"), "fingerprint")
    pairs = (
        hfr.alias("a")
        .join(
            hfr.alias("b").hint("shuffle_hash"),
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.host") < F.col("b.host")),
        )
        .groupBy(
            F.col("a.host").alias("host_a"), F.col("b.host").alias("host_b")
        )
        .agg(F.count("*").cast("long").alias("shared_fp"))
    )
    sizes = hf.groupBy("host").agg(F.count("*").cast("long").alias("n_fp"))
    return (
        pairs.join(
            sizes.select(F.col("host").alias("host_a"), F.col("n_fp").alias("na")),
            "host_a",
        )
        .join(
            sizes.select(F.col("host").alias("host_b"), F.col("n_fp").alias("nb")),
            "host_b",
        )
        .select(
            "host_a",
            "host_b",
            "shared_fp",
            F.expr(
                "CAST(shared_fp * 1000000 div least(na, nb) AS BIGINT)"
            ).alias("overlap_ppm"),
        )
        .orderBy(F.col("shared_fp").desc(), "host_a", "host_b")
        .limit(_MIRROR_TOPK)
    )


docs_mirror_detection.__doc__ = docs_mirror_detection.__doc__.format(
    maxh=_MIRROR_MAX_HOSTS, k=_MIRROR_TOPK
)


# --------------------------------------------------------------------------
# Round-11b: interpolated Kneser-Ney TRIGRAM NLL (backoff recursion into
# the certified bigram model)
# --------------------------------------------------------------------------

# P_KN3(w3|w1w2) = max(c123-D,0)/c12• + D·N1+(w1w2,·)/c12• · P_KN2(w3|w2)
# with D = 3/4 and P_KN2 the wave-11a bigram model (itself backing off to
# the continuation distribution).  Fixed point:
#   p3_pt = (max(4·c123-3, 0)·1e12 + 3·n1_12·p2_pt) div (4·c12dot)
# where p2_pt is the (already clamped ≥1) bigram fixed point — so the
# recursion composes in ONE extra integer expression and every argument
# stays bounded by 1e12.  Unseen (w1,w2) context backs off to p2_pt.
_TRI_CTES = f"""tg AS (
      SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2, t[i + 3] AS w3
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
        FROM documents
      ), unnest(range(len(t) - 2)) AS u(i)
      WHERE len(t) >= 3
    ), bg AS (
      {_BIGRAM_SQL}
    ), tr AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg WHERE doc_id % 10 < 8 GROUP BY w1, w2
    ), mc AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1
      FROM tr GROUP BY w1
    ), cw AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS nc FROM tr GROUP BY w2
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS B FROM tr
    ), tr3 AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c123
      FROM tg WHERE doc_id % 10 < 8 GROUP BY w1, w2, w3
    ), mc3 AS (
      SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12dot,
             CAST(COUNT(*) AS BIGINT) AS n1_12
      FROM tr3 GROUP BY w1, w2
    ), te3 AS (
      SELECT g.doc_id,
             CAST(CASE WHEN m3.c12dot IS NULL THEN p2_pt
             ELSE greatest(
               ((CASE WHEN 4 * COALESCE(t3.c123, 0) > 3
                      THEN 4 * COALESCE(t3.c123, 0) - 3
                      ELSE 0 END)::HUGEINT * 1000000000000
                + 3::HUGEINT * m3.n1_12 * p2_pt)
               // (4::HUGEINT * m3.c12dot), 1)
             END AS BIGINT) AS p_pt
      FROM (
        SELECT g0.doc_id, g0.w1, g0.w2, g0.w3,
               CAST({{p2}} AS BIGINT) AS p2_pt
        FROM (SELECT * FROM tg WHERE doc_id % 10 >= 8) g0
        LEFT JOIN tr ON tr.w1 = g0.w2 AND tr.w2 = g0.w3
        LEFT JOIN mc ON mc.w1 = g0.w2
        LEFT JOIN cw ON cw.w2 = g0.w3
        CROSS JOIN tot
      ) g
      LEFT JOIN tr3 t3 ON t3.w1 = g.w1 AND t3.w2 = g.w2 AND t3.w3 = g.w3
      LEFT JOIN mc3 m3 ON m3.w1 = g.w1 AND m3.w2 = g.w2
    ), perdoc3 AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tg,
             CAST(SUM({_LG1E12} - {{lg}}) AS BIGINT) AS nll_sum
      FROM te3 GROUP BY doc_id
    )"""


def _kn3_oracle() -> str:
    ctes = _TRI_CTES.format(
        p2=_P_PT_DUCK, lg=_DUCK_LOG2.format(x="p_pt")
    )
    return f"""
    WITH {ctes}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_tg) AS BIGINT) AS n_trigrams,
           CAST(SUM(p.nll_sum) // SUM(p.n_tg) AS BIGINT) AS nll_ppm_bits
    FROM perdoc3 p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.source
    """


@substrates.memo
def _doc_trigrams(docs):
    """(doc_id, w1, w2, w3) — adjacent token triples, persisted per
    (session, source plan) like _doc_bigrams."""
    from pyspark import StorageLevel

    t = text.tokens(F.col("text"))
    triples = F.expr(
        "transform(sequence(1, size(_t) - 2), "
        "i -> struct(element_at(_t, i) AS w1, element_at(_t, i + 1) AS w2,"
        " element_at(_t, i + 2) AS w3))"
    )
    out = (
        docs.select("doc_id", t.alias("_t"))
        .filter(F.size("_t") >= 3)
        .select("doc_id", F.explode(triples).alias("_p"))
        .select(
            "doc_id",
            F.col("_p.w1").alias("w1"),
            F.col("_p.w2").alias("w2"),
            F.col("_p.w3").alias("w3"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return out


@register("docs_kn_trigram_nll", oracle=_kn3_oracle())
def docs_kn_trigram_nll(spark, sf_dir):
    """Interpolated Kneser-Ney TRIGRAM LM over the held split — the full
    backoff recursion (Chen & Goodman 1999 eq. 4.26): the trigram level
    discounts by D = 3/4 and interpolates into the certified wave-11a
    BIGRAM model (which itself backs off to the continuation
    distribution), composing in ONE extra integer expression
    p3 = (max(4c₁₂₃−3,0)·1e12 + 3·N1₊(w1w2,·)·p2) div (4·c₁₂•) — every
    log argument still bounded by 1e12 at any corpus size.  Per-source
    mean NLL in ppm-bits per trigram; lower than the bigram NLL where
    trigram context genuinely helps (the order-selection signal).

    Scale shape: trigram-type counts and the (w1,w2) marginal are
    partial-combined aggregates bounded by vocabulary³ observed types;
    scoring joins the held-out trigram stream against five
    vocabulary-bounded count tables + a broadcast 1-row total — the same
    shuffle budget as the bigram model plus two joins."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bg = _doc_bigrams(docs)
    tgr = _doc_trigrams(docs)
    tr = (
        bg.where(F.col("doc_id") % 10 < 8)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
    )
    mc = tr.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1"),
    )
    cw = tr.groupBy("w2").agg(F.count("*").cast("long").alias("nc"))
    tot = tr.agg(F.count("*").cast("long").alias("B"))
    tr3 = (
        tgr.where(F.col("doc_id") % 10 < 8)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").cast("long").alias("c123"))
    )
    mc3 = tr3.groupBy("w1", "w2").agg(
        F.sum("c123").cast("long").alias("c12dot"),
        F.count("*").cast("long").alias("n1_12"),
    )
    # bigram backoff probability of (w2, w3): rename the bigram count
    # tables onto the trigram's last-two-word key
    g = (
        tgr.where(F.col("doc_id") % 10 >= 8)
        .join(
            tr.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                "c12",
            ).hint("shuffle_hash"),
            ["w2", "w3"],
            "left",
        )
        .join(
            mc.select(F.col("w1").alias("w2"), "c1", "n1")
            .hint("shuffle_hash"),
            ["w2"],
            "left",
        )
        .join(
            cw.select(F.col("w2").alias("w3"), "nc").hint("shuffle_hash"),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "w1",
            "w2",
            "w3",
            F.expr(f"CAST({_P_PT_SPARK} AS BIGINT)").alias("p2_pt"),
        )
    )
    te3 = (
        g.join(tr3.hint("shuffle_hash"), ["w1", "w2", "w3"], "left")
        .join(mc3.hint("shuffle_hash"), ["w1", "w2"], "left")
        .select(
            "doc_id",
            F.expr(
                "CAST(CASE WHEN c12dot IS NULL THEN p2_pt"
                " ELSE greatest("
                "(CAST(CASE WHEN 4 * COALESCE(c123, 0) > 3"
                " THEN 4 * COALESCE(c123, 0) - 3 ELSE 0 END"
                " AS DECIMAL(38,0)) * 1000000000000"
                " + CAST(3 AS DECIMAL(38,0)) * n1_12 * p2_pt)"
                " div (CAST(4 AS DECIMAL(38,0)) * c12dot),"
                " CAST(1 AS BIGINT)) END AS BIGINT)"
            ).alias("p_pt"),
        )
    )
    lg = _SPARK_LOG2.format(x="p_pt")
    perdoc = te3.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tg"),
        F.expr(f"CAST(SUM({_LG1E12} - {lg}) AS BIGINT)").alias("nll_sum"),
    )
    return (
        perdoc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tg").cast("long").alias("n_trigrams"),
            F.expr("CAST(SUM(nll_sum) div SUM(n_tg) AS BIGINT)").alias(
                "nll_ppm_bits"
            ),
        )
    )


# --------------------------------------------------------------------------
# Round-11c: streaming canonical-URL dedup twin (REAL availableNow replay)
# --------------------------------------------------------------------------

_STREAM_URL_RUNS = iter(range(1_000_000))

_STREAM_URL_ORACLE = f"""
    WITH raw AS (
      SELECT doc_id, {_URL_SQL_DUCK} AS raw_url FROM documents
    ), {_CANON_DUCK}
    SELECT host, curl,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(MIN(doc_id) AS BIGINT) AS survivor_doc_id
    FROM canon GROUP BY host, curl
    """


@register("stream_url_dedup_twin", oracle=_STREAM_URL_ORACLE)
def stream_url_dedup_twin(spark, sf_dir):
    """The canonical-URL dedup stage run as a REAL Structured Streaming
    query — the shape a crawl-ingest pipeline actually runs (URLs arrive
    continuously; the dedup ledger is streaming state): documents are
    staged into a file source, the canonicalizer projection
    (extensions.web.canonicalize_url — identical column expression as the
    batch query) runs inside the stream, and a streaming groupBy
    (host, curl) maintains the per-canonical-URL ledger (arrival count +
    min-doc_id survivor).  trigger(availableNow=True) + complete-mode
    memory sink; the FINAL state must hash-equal the batch canonical
    rollup — a lost update, a canonicalizer divergence between the batch
    and streaming paths, or a curl that split state would each break the
    driver comparison.

    Scale shape: state is one row per DISTINCT canonical URL (the dedup
    ledger itself — the minimum any URL-dedup service carries), keyed by
    the same (host-embedding) canonical key as the batch shuffle; min and
    count are both partial-combinable, so micro-batches do map-side
    combine before touching state."""
    import tempfile

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    staged = docs.select("doc_id", F.expr(_URL_SQL_SPARK).alias("raw_url"))
    src = tempfile.mkdtemp(prefix="stream_url_src_")
    staged.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, raw_url string").parquet(
        src
    )
    canon = stream.select("doc_id", *canonicalize_url(F.col("raw_url")))
    ledger = canon.groupBy("host", "curl").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.min("doc_id").cast("long").alias("survivor_doc_id"),
    )
    from kafka_sink_spark.plans.stream_twin import finish_stream_twin

    name = f"stream_url_dedup_twin_{next(_STREAM_URL_RUNS)}"
    ck = tempfile.mkdtemp(prefix="stream_url_ck_")
    q = (
        ledger.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    result = spark.table(name).select(
        "host", "curl", "n_urls", "survivor_doc_id"
    )
    return finish_stream_twin(spark, q, name, result, (src, ck))


# --------------------------------------------------------------------------
# Round-11c: LM order-selection gain (bigram → trigram NLL delta)
# --------------------------------------------------------------------------


def _kn_order_gain_oracle() -> str:
    # _TRI_CTES already defines bg/tr/mc/cw/tot (the bigram model) plus the
    # trigram tables and perdoc3; append the bigram te/perdoc chain (names
    # disjoint) and join the two per-doc scores.
    tri = _TRI_CTES.format(p2=_P_PT_DUCK, lg=_DUCK_LOG2.format(x="p_pt"))
    bi_te = f"""te AS (
      SELECT b.doc_id,
             CAST({_P_PT_DUCK} AS BIGINT) AS p_pt
      FROM (SELECT * FROM bg WHERE doc_id % 10 >= 8) b
      LEFT JOIN tr ON tr.w1 = b.w1 AND tr.w2 = b.w2
      LEFT JOIN mc ON mc.w1 = b.w1
      LEFT JOIN cw ON cw.w2 = b.w2
      CROSS JOIN tot
    ), perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
             CAST(SUM({_LG1E12} - {_DUCK_LOG2.format(x="p_pt")}) AS BIGINT)
               AS nll_sum
      FROM te GROUP BY doc_id
    )"""
    return f"""
    WITH {tri}, {bi_te}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p2.nll_sum) // SUM(p2.n_bg) AS BIGINT) AS bigram_nll,
           CAST(SUM(p3.nll_sum) // SUM(p3.n_tg) AS BIGINT) AS trigram_nll,
           CAST(SUM(p2.nll_sum) // SUM(p2.n_bg)
                - SUM(p3.nll_sum) // SUM(p3.n_tg) AS BIGINT) AS gain_ppm_bits
    FROM perdoc p2
    JOIN perdoc3 p3 ON p3.doc_id = p2.doc_id
    JOIN documents d ON d.doc_id = p2.doc_id
    GROUP BY d.source
    """


@register("docs_kn_order_gain", oracle=_kn_order_gain_oracle())
def docs_kn_order_gain(spark, sf_dir):
    """LM order selection — the bits-per-token gain of moving the KN model
    from bigram to trigram order, per source (Chen & Goodman's standard
    order-sweep readout): positive gain means trigram context genuinely
    predicts the held-out text better; NEGATIVE gain (as on this
    synthetic word-salad corpus) is the classic overfitting-by-order
    signal — the discount cost of the sparse trigram table buys no
    predictive power, so a curation pipeline would keep the cheaper
    bigram screen.  Both NLLs are the certified wave-11a/11b scores
    joined per held-out doc (docs with ≥ 3 tokens on both sides) and
    rolled up per source with the catalog's truncating-division
    convention.

    Scale shape: the two scoring chains share the persisted
    bigram/trigram substrates and all count tables; the delta adds one
    doc-keyed join of two per-doc aggregates + the per-source rollup."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bi = _kn_scored(spark, sf_dir)
    # trigram per-doc scores: same chain as docs_kn_trigram_nll up to the
    # per-doc aggregate (the bigram/trigram substrates are persisted, so
    # this second consumer costs the count joins only)
    bg = _doc_bigrams(docs)
    tgr = _doc_trigrams(docs)
    tr = (
        bg.where(F.col("doc_id") % 10 < 8)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
    )
    mc = tr.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1"),
    )
    cw = tr.groupBy("w2").agg(F.count("*").cast("long").alias("nc"))
    tot = tr.agg(F.count("*").cast("long").alias("B"))
    tr3 = (
        tgr.where(F.col("doc_id") % 10 < 8)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").cast("long").alias("c123"))
    )
    mc3 = tr3.groupBy("w1", "w2").agg(
        F.sum("c123").cast("long").alias("c12dot"),
        F.count("*").cast("long").alias("n1_12"),
    )
    g = (
        tgr.where(F.col("doc_id") % 10 >= 8)
        .join(
            tr.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"), "c12")
            .hint("shuffle_hash"),
            ["w2", "w3"],
            "left",
        )
        .join(
            mc.select(F.col("w1").alias("w2"), "c1", "n1")
            .hint("shuffle_hash"),
            ["w2"],
            "left",
        )
        .join(
            cw.select(F.col("w2").alias("w3"), "nc").hint("shuffle_hash"),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "w1",
            "w2",
            "w3",
            F.expr(f"CAST({_P_PT_SPARK} AS BIGINT)").alias("p2_pt"),
        )
    )
    te3 = (
        g.join(tr3.hint("shuffle_hash"), ["w1", "w2", "w3"], "left")
        .join(mc3.hint("shuffle_hash"), ["w1", "w2"], "left")
        .select(
            "doc_id",
            F.expr(
                "CAST(CASE WHEN c12dot IS NULL THEN p2_pt"
                " ELSE greatest("
                "(CAST(CASE WHEN 4 * COALESCE(c123, 0) > 3"
                " THEN 4 * COALESCE(c123, 0) - 3 ELSE 0 END"
                " AS DECIMAL(38,0)) * 1000000000000"
                " + CAST(3 AS DECIMAL(38,0)) * n1_12 * p2_pt)"
                " div (CAST(4 AS DECIMAL(38,0)) * c12dot),"
                " CAST(1 AS BIGINT)) END AS BIGINT)"
            ).alias("p_pt"),
        )
    )
    lg = _SPARK_LOG2.format(x="p_pt")
    tri = te3.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tg"),
        F.expr(f"CAST(SUM({_LG1E12} - {lg}) AS BIGINT)").alias("nll3_sum"),
    )
    return (
        bi.withColumnRenamed("nll_sum", "nll2_sum")
        .join(tri, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("CAST(SUM(nll2_sum) div SUM(n_bg) AS BIGINT)").alias(
                "bigram_nll"
            ),
            F.expr("CAST(SUM(nll3_sum) div SUM(n_tg) AS BIGINT)").alias(
                "trigram_nll"
            ),
            F.expr(
                "CAST(SUM(nll2_sum) div SUM(n_bg)"
                " - SUM(nll3_sum) div SUM(n_tg) AS BIGINT)"
            ).alias("gain_ppm_bits"),
        )
    )


# --------------------------------------------------------------------------
# Round-11d: unigram KN NLL — the base of the order ladder
# --------------------------------------------------------------------------

# The KN unigram IS the continuation distribution P_cont(w) = N1+(·,w)/B —
# the same table the bigram model backs off to, so the 1→2→3-gram order
# sweep (this query, docs_kn_bigram_nll, docs_kn_trigram_nll,
# docs_kn_order_gain) shares one set of count tables end to end.
_UNI_ORACLE = f"""
    WITH tk AS (
      SELECT doc_id, t.tok
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS toks
        FROM documents WHERE doc_id % 10 >= 8
      ), unnest(toks) AS t(tok)
    ), bg AS (
      {_BIGRAM_SQL}
    ), tr AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg WHERE doc_id % 10 < 8 GROUP BY w1, w2
    ), cw AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS nc FROM tr GROUP BY w2
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS B FROM tr
    ), te AS (
      SELECT tk.doc_id,
             CAST(greatest(COALESCE(cw.nc, 0)::HUGEINT * 1000000000000 // B,
                           1) AS BIGINT) AS p_pt
      FROM tk LEFT JOIN cw ON cw.w2 = tk.tok CROSS JOIN tot
    ), perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM({_LG1E12} - {_DUCK_LOG2.format(x="p_pt")}) AS BIGINT)
               AS nll_sum
      FROM te GROUP BY doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(p.nll_sum) // SUM(p.n_tok) AS BIGINT) AS nll_ppm_bits
    FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.source
    """


@register("docs_kn_unigram_nll", oracle=_UNI_ORACLE)
def docs_kn_unigram_nll(spark, sf_dir):
    """Unigram KN NLL — the base of the order ladder: the KN unigram is
    exactly the CONTINUATION distribution P_cont(w) = N1₊(·,w)/B that the
    bigram model backs off to (Kneser & Ney 1995's core insight: type
    counts, not token counts, at the backoff level), so this query scores
    every held-out TOKEN against the same count tables the 2/3-gram
    models share.  Per-source mean NLL in ppm-bits per token; together
    with docs_kn_bigram_nll / docs_kn_trigram_nll / docs_kn_order_gain
    this completes the 1→2→3-gram order sweep a curation pipeline runs to
    pick its screen.

    Scale shape: one token explode over the held split, one left join
    against the vocabulary-bounded continuation table + a broadcast 1-row
    total, partial-combined per-doc and per-source rollups."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bg = _doc_bigrams(docs)
    tr = (
        bg.where(F.col("doc_id") % 10 < 8)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
    )
    cw = tr.groupBy("w2").agg(F.count("*").cast("long").alias("nc"))
    tot = tr.agg(F.count("*").cast("long").alias("B"))
    tk = (
        docs.where(F.col("doc_id") % 10 >= 8)
        .select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
    )
    te = (
        tk.join(
            cw.select(F.col("w2").alias("tok"), "nc").hint("shuffle_hash"),
            ["tok"],
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "CAST(greatest(CAST(COALESCE(nc, 0) AS DECIMAL(38,0))"
                " * 1000000000000 div B, CAST(1 AS BIGINT)) AS BIGINT)"
            ).alias("p_pt"),
        )
    )
    lg = _SPARK_LOG2.format(x="p_pt")
    perdoc = te.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tok"),
        F.expr(f"CAST(SUM({_LG1E12} - {lg}) AS BIGINT)").alias("nll_sum"),
    )
    return (
        perdoc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.expr("CAST(SUM(nll_sum) div SUM(n_tok) AS BIGINT)").alias(
                "nll_ppm_bits"
            ),
        )
    )
