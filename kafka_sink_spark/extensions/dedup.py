"""Deduplication operators for training-data pipelines.

Five families, each scale-first:

- exact:       md5 hash → groupBy. One shuffle on the 128-bit digest.
- minhash+LSH: shingle → k minhashes → b bands → bucket join. Candidate pairs
               come from a self-join on (band, bucket) — never the O(n²)
               cross product. All hashing is deterministic md5-based integer
               arithmetic so a DuckDB oracle can replay it bit-for-bit.
- simhash:     per-token hash → bitwise majority vote → W-bit signature;
               near-dups share signatures (or differ in ≤ hamming_k bits).
- n-gram Jaccard: exact set similarity on shingle hashes for candidate pairs
               (the verify stage after LSH).
- embedding:   cosine near-dup over `array<float>` — see similarity.py; the
               dedup entry point buckets by random-hyperplane LSH first.

At 100 TB: every stage is scan → project → shuffle-on-hash; candidate
generation is |bands| × n rows, verification only touches candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_sink_spark import substrates
from kafka_sink_spark.extensions.text import md5_long, shingles, tokens
from kafka_sink_spark.session import spread_small_scan

# Deterministic affine-permutation constants for minhash: h_i(x) = (a_i*x + b_i) mod p.
# p = 2^31 - 1 keeps a*(h mod p) + b < 2^62 — no int64 overflow in Spark OR in
# the DuckDB oracle replaying the same arithmetic.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from md5 of the seed+index — no RNG
    state, reproducible anywhere (including inside generated oracle SQL)."""
    import hashlib

    params = []
    for i in range(k):
        d = hashlib.md5(f"minhash-{seed}-{i}".encode()).hexdigest()
        a = (int(d[:15], 16) % (MINHASH_PRIME - 1)) + 1
        b = int(d[15:30], 16) % MINHASH_PRIME
        assert a * (MINHASH_PRIME - 1) + b < 2**62
        params.append((a, b))
    return params


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content hash: per digest, the surviving (min) doc_id
    and the number of copies. One shuffle, map-side partial agg."""
    return (
        docs.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Return the deduplicated documents (keep lowest doc_id per content).

    The keep-set is one row per DISTINCT content — it scales with the
    corpus, so the semi join carries NO broadcast hint: it shuffles on
    doc_id at 100 TB, and AQE still switches to broadcast when the
    keep-set is genuinely small (same discipline as dedup_survivors)."""
    keep = exact_duplicates(docs, text_col).select(F.col("keep_doc_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


def shingle_hashes(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """doc_id → exploded 60-bit shingle hashes (the minhash/jaccard substrate).

    Tokenizes in its own projection so the split runs once per doc, then
    builds shingles with O(1) element_at reads (see shingles_from_tokens)."""
    from kafka_sink_spark.extensions.text import shingles_from_tokens

    # Tokenize + shingle-explode + md5 run in the scan's narrow stage:
    # spread a low-parallelism scan first (guide §2.2; no-op at scale).
    toks = spread_small_scan(docs, docs.sparkSession).select(
        F.col("doc_id"), tokens(F.col(text_col)).alias("_toks")
    )
    return toks.select(
        F.col("doc_id"),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
    ).select(F.col("doc_id"), md5_long(F.col("shingle")).alias("h"))


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", k: int = 16, n: int = 3, seed: int = 42
) -> DataFrame:
    """doc_id → k-column minhash signature.

    Computed as k aggregates over the exploded shingle hashes: one explode +
    one groupBy(doc_id) — partial aggregation makes the shuffle tiny (k longs
    per doc). Column names m0..m{k-1}.
    """
    sh = shingle_hashes(docs, text_col, n)
    h_mod = (F.col("h") % MINHASH_PRIME).alias("hm")
    aggs = [
        F.min((h_mod * F.lit(a) + F.lit(b)) % MINHASH_PRIME).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_params(k, seed))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Band the signature and self-join on (band_id, band_hash) → candidate
    near-dup pairs (doc_a < doc_b).

    The join key is the md5 of the concatenated band slice; same-bucket docs
    are candidates. Skew note: a degenerate bucket (e.g. empty docs) would
    blow up the self-join — AQE skew-join handles moderate skew, and callers
    can pre-filter empty docs.
    """
    k = bands * rows_per_band
    sig_cols = [f"m{i}" for i in range(k)]
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(c).cast("string")
                                    for c in sig_cols[
                                        b * rows_per_band : (b + 1) * rows_per_band
                                    ]
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def jaccard_similarity(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A∩B| / |A∪B| over distinct
    shingle-hash sets.

    Single-pass formulation: each pair explodes into its two member docs, ONE
    join attaches the shingle hashes, and intersection + both set sizes fall
    out of a two-level aggregation. The expensive shingle explode is scanned
    once (the naive a-join/b-join/sizes shape scans it three times), and the
    shuffle keys (pair, h) → (pair) are exactly the candidate volume — linear
    in Σ|pair member shingles|, independent of corpus size."""
    sh = shingle_hashes(docs, text_col, n).distinct()
    sides = pairs.select(
        "doc_a", "doc_b",
        F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc_id"),
    )
    tagged = sides.join(sh, "doc_id").select(
        "doc_a", "doc_b", "h",
        (F.col("doc_id") == F.col("doc_a")).cast("int").alias("in_a"),
        (F.col("doc_id") == F.col("doc_b")).cast("int").alias("in_b"),
    )
    per_hash = tagged.groupBy("doc_a", "doc_b", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    stats = per_hash.groupBy("doc_a", "doc_b").agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
        F.sum("in_a").alias("size_a"),
        F.sum("in_b").alias("size_b"),
    )
    return stats.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double"),
            6,
        ).alias("jaccard"),
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Full minhash+LSH near-dup pipeline: signature → band join → exact
    Jaccard verify → threshold filter."""
    sigs = minhash_signatures(docs, text_col, k=k, n=n)
    pairs = lsh_candidate_pairs(sigs, bands=bands, rows_per_band=k // bands)
    sim = jaccard_similarity(docs, pairs, text_col, n)
    return sim.filter(F.col("jaccard") >= threshold)


@substrates.memo
def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Cluster near-dup pairs into groups: iterative min-label propagation
    (the HashMin connected-components algorithm).

    Each iteration is one distributed join + aggregation; convergence needs
    O(component diameter) rounds — near-dup clusters are shallow, so this
    terminates in a handful of iterations. ``localCheckpoint`` truncates the
    lineage per round (the standard iterative-algorithm pattern; without it
    the plan doubles every iteration). Output: doc_id, cluster_id (= the
    minimum doc_id in the component).
    """
    # The label table is the dedup family's shared substrate (survivors,
    # cluster sizes/histogram, survivor quality, the composed curation
    # pipelines all consume it): memoize the CHECKPOINTED result per
    # (session, pairs plan) the way component_rows/_copurchase_edges do, so
    # one session's consumers don't each re-run the iterative loop.

    # Checkpoint both frames CO-PARTITIONED on their per-round join keys
    # (edges by dst, labels by doc_id): the label-lookup join and the
    # write-back join then run exchange-free every round — hash(dst) meets
    # hash(doc_id) and hash(src) meets hash(doc_id) at equal partition
    # counts — leaving the groupBy(src) rollup as the round's only shuffle
    # (guide §2.4: establish the partitioning once, reuse across passes).
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).repartition("dst").localCheckpoint()  # materialize once — iterating
    # must not re-run the (potentially expensive) pair generation per round
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("lbl", F.col("doc_id"))
        .repartition("doc_id")
        .localCheckpoint()
    )
    converged = False
    for i in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("lbl").alias("nmin"))
        )
        # The changed flag rides the same pass (least(lbl, nmin) < lbl ⇔
        # this round lowered the label), so convergence needs no second
        # join of new labels against old.
        new_labels = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                F.col("doc_id"),
                F.least(F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))).alias(
                    "lbl"
                ),
                (F.coalesce(F.col("nmin"), F.col("lbl")) < F.col("lbl"))
                .cast("int")
                .alias("_chg"),
            )
            .localCheckpoint()
        )
        labels = new_labels.drop("_chg")
        # Batched convergence check (r14 verdict ask #5): the sum(_chg)
        # collect is a driver round-trip PER ROUND — at 100 TB that is an
        # extra job and scheduler barrier every iteration.  Rounds 1 and 2
        # always check (near-dup components are shallow, so the common case
        # converges there and pays nothing extra); past that only every
        # second round checks, trading at most one no-op round — extra
        # rounds cannot change converged labels (least() is idempotent) —
        # for half the convergence jobs on deep components.  The final
        # round always checks so the non-convergence guard still fires.
        if i < 2 or (i + 1) % 2 == 0 or i == max_iter - 1:
            changed = new_labels.agg(F.sum("_chg")).collect()[0][0] or 0
            if changed == 0:
                converged = True
                break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"(component diameter exceeds max_iter) — raise max_iter"
        )
    return labels.select(F.col("doc_id"), F.col("lbl").alias("cluster_id"))


# --- simhash ---------------------------------------------------------------


def simhash(col: Column, bits: int = 16) -> Column:
    """W-bit simhash over whitespace tokens.

    For each bit position: majority vote of token-hash bits (+1/-1 weighted,
    here unweighted). Expressed as a sum over the token array per bit —
    aggregate-free (pure projection), so it composes with any plan shape.
    Bit i of the token hash h is (h >> i) & 1; vote = Σ(2*bit - 1); signature
    bit set iff vote > 0.
    """
    toks = tokens(col)
    hashes = F.transform(toks, lambda t: md5_long(t))
    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("bigint"),
        )
        sig = sig + F.when(vote > 0, F.lit(2**i).cast("bigint")).otherwise(F.lit(0))
    return sig


def simhash_signatures(docs: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """doc_id → simhash via explode + groupBy: the md5 runs ONCE per token
    (the projection-form ``simhash()`` column re-hashes per bit — 16× the
    work); the per-bit votes are trivial int sums with map-side partial
    aggregation, so the shuffle carries `bits` ints per doc."""
    tok_hashes = spread_small_scan(docs, docs.sparkSession).select(
        F.col("doc_id"), F.explode(tokens(F.col(text_col))).alias("t")
    ).select(F.col("doc_id"), md5_long(F.col("t")).alias("h"))
    votes = tok_hashes.groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).cast("bigint")
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    return votes.select(F.col("doc_id"), sig.alias("simhash"))


def simhash_duplicates(docs: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """Group docs by identical simhash signature (hamming-0 near-dups).
    For hamming ≤ d, band the signature into d+1 slices and bucket-join —
    same pattern as minhash LSH."""
    return (
        simhash_signatures(docs, text_col, bits)
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def dedup_survivors(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """End-to-end near-dup REMOVAL: the corpus that survives minhash dedup.

    Pipeline: signatures → LSH candidate pairs → exact-Jaccard verify →
    connected components → keep only each cluster's representative (minimum
    doc_id) → anti-join the losers out of the corpus. The anti-join's right
    side is the set of non-representative cluster members — proportional to
    the duplicate volume, not the corpus, so at 100 TB it stays a shuffled
    anti-join (AQE downgrades it to broadcast when the dup set is small).
    """
    comps = connected_components(minhash_dedup_pairs(docs, text_col, threshold, k, bands, n))
    losers = comps.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti")
