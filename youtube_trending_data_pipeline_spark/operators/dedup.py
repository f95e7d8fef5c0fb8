"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all shuffle-architected for the 100 TB target:

* exact          — hash groupBy on normalized content (one shuffle)
* minhash_lsh    — shingle -> minhash signature -> banded bucket join;
                   candidate generation never compares all pairs, cost is
                   O(sum of bucket sizes squared) with small buckets
* simhash        — 64-bit sign-aggregate signature; near-dup = hamming
                   distance <= k found via 4x16-bit band exact-match
                   (pigeonhole: any pair within distance 3 shares a band)
* ngram_jaccard  — exact n-gram Jaccard verification over candidate pairs
                   (blocked self-join; never all-pairs)
* embedding      — cosine near-dup over ``array<float>`` embeddings,
                   blocked by random-hyperplane LSH buckets

Everything is built-in DataFrame ops (higher-order functions + joins);
no Python in the row path. Hash seeds are fixed constants so results are
deterministic run-to-run (required by the driver's value-hash check).
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.functions.text import (
    char_ngrams,
    fingerprint,
    tokens,
    word_ngrams,
)
from youtube_trending_data_pipeline_spark.functions.vectors import cosine_similarity
from youtube_trending_data_pipeline_spark.operators.intlinalg import (
    _exact_int_matmul_blocks,
    _exact_sq_l2,
    _list_column,
    _list_matrix,
    _split_group,
)

# Mersenne prime for the affine minhash permutations h_i(x) = (a_i*x+b_i) mod p.
_MERSENNE_P = (1 << 61) - 1


def portable_hash32(col: Column | str) -> Column:
    """32-bit string hash computable identically in any ANSI engine:
    the first 8 hex digits of md5, parsed as an integer. Slightly more
    expensive than xxhash64 but portable — DuckDB mirrors it as
    ``('0x' || substr(md5(s), 1, 8))::BIGINT`` — which lets the driver's
    oracle replay minhash/simhash signatures bit-exactly instead of
    falling back to a rows-only check. Pure codegen expressions.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def portable_hash32_lo(col: Column | str) -> Column:
    """Second independent 32-bit hash: md5 hex digits 9-16 (same cost —
    one md5 feeds both halves after subexpression elimination)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread the input across the cluster before expression-heavy stages.

    A single small parquet file scans as ONE partition, serializing the
    shingle/hash work on one core. On a real lake the input splits provide
    parallelism and this is a no-op; locally it repartitions the (small)
    input so the compute scales with cores.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = True
) -> DataFrame:
    """One row per distinct content: keeper id (min), duplicate count.

    Single hash aggregation on the content fingerprint — the canonical
    at-scale exact dedup (group on md5, not the full text, so shuffle rows
    are fixed-width instead of document-sized).
    """
    key = fingerprint(text_col) if normalized else F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), key.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep exactly the keeper row per distinct normalized content."""
    keepers = exact_duplicates(df, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Carter-Wegman universal family mod 2^31-1 for the MinHash permutations.
# Round-11 estimator-quality fix: the old family — a, b < 2^30 against
# p = 2^61-1 — keeps a*h + b below 2*p, so the "permutation" wraps AT
# MOST ONCE and is order-preserving on each of its two pieces: nearly
# every permutation picks the shingle with the globally smallest base
# hash, so signature positions are strongly correlated instead of
# independent. Measured on a 3-doc fixture: a TRUE Jaccard 0.8 pair
# agreed on only 22/64 positions (expected ~51) and missed all 16
# bands, while boilerplate-sharing pairs over-estimated (the r10 recall
# audit's precision 0.21 was this bug, not LSH's S-curve). With
# h' = h % p31 and a, b < p31 = 2^31-1, the product stays < 2^62 (ANSI
# int64-safe on both engines) and the map wraps ~a*h'/p31 ~ 2^31 times
# — a genuinely scrambling universal-hash family, the textbook MinHash
# construction.
_MERSENNE_P31 = (1 << 31) - 1


def _cw_params31(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P31), rng.randrange(0, _MERSENNE_P31))
        for _ in range(num_perm)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_words: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<bigint>[num_perm]) minhash over word shingles.

    Shape: explode shingles to rows, hash once, then ONE hash-aggregate
    computing all ``num_perm`` affine-permutation minima as parallel MIN
    aggregates. This stays inside whole-stage codegen and gets map-side
    partial aggregation — unlike per-row nested higher-order-function
    folds, which Spark evaluates interpreted (~50x slower measured at
    sf0.1) and which serialize on a single input split.

    Docs with no shingle (shorter than the window) get an empty-doc
    sentinel signature so they never collide with real content.
    """
    params = _cw_params31(num_perm, seed)
    df = _ensure_parallelism(df)
    ids = df.select(F.col(id_col).alias("id"))
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_ngrams(text_col, shingle_words))).alias(
            "_shingle"
        ),
    ).select(
        "id",
        # 32-bit base hash keeps a*h + b within long range (no ANSI
        # overflow) and is portable to the DuckDB oracle (exact replay).
        # _h % p is hoisted out of the 64 MIN expressions (r13): codegen
        # does not CSE across aggregate expressions, so the old form
        # computed the same modulo 64x per shingle row.
        (portable_hash32("_shingle") % _MERSENNE_P31).alias("_hm"),
    )
    mins = exploded.groupBy("id").agg(
        *[
            F.min(
                (F.col("_hm") * a + b) % F.lit(_MERSENNE_P31)
            ).alias(f"_m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    sig = F.array(
        *[
            F.coalesce(F.col(f"_m{i}"), F.lit(-(i + 1)))
            for i in range(num_perm)
        ]
    )
    return ids.join(mins, "id", "left").select("id", sig.alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_perm: int,
    bands: int = 16,
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) whose signatures collide in >= 1 band.

    Explode to (band_idx, band_hash, id), self-group per bucket. The join
    key (band_idx, band_hash) distributes buckets across the cluster; no
    all-pairs comparison ever materializes. ``num_perm`` (the signature
    length) is an explicit parameter — plan construction runs no Spark
    job (a driver-side ``.first()`` here would materialize the upstream
    signature aggregation early; asserted in tests/test_plan_quality.py).

    ``max_bucket`` caps the degenerate-bucket blowup (identical
    boilerplate docs hash every band into one bucket, going quadratic at
    corpus scale): rows in buckets larger than the cap are dropped from
    candidate generation — exact dedup upstream already collapses
    identical content, so only near-identical mega-clusters lose recall —
    and the drop is reported via ``observe`` metrics
    (``lsh_bucket_cap.dropped_rows``) so operators can see it happening.
    """
    rows_per_band = max(1, num_perm // bands)
    sigs = signatures
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            F.array_join(
                                F.transform(
                                    F.slice(
                                        F.col("sig"), b * rows_per_band + 1, rows_per_band
                                    ),
                                    lambda v: v.cast("string"),
                                ),
                                ",",
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_hash")
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_idx", "band_hash")
        counted = banded.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        # observe only the left branch of the self-join: the right branch
        # is the identical subtree, and two Observe nodes with one name in
        # a single plan would collide
        observed = counted.observe(
            observation if observation is not None else "lsh_bucket_cap",
            F.sum((F.col("_bucket_n") > max_bucket).cast("long")).alias(
                "dropped_rows"
            ),
        )
        left = observed.where(F.col("_bucket_n") <= max_bucket).drop("_bucket_n")
        right = counted.where(F.col("_bucket_n") <= max_bucket).drop("_bucket_n")
    else:
        left = right = banded
    a = left.alias("a")
    b = right.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_jaccard_estimate(
    pairs: DataFrame, signatures: DataFrame
) -> DataFrame:
    """Estimated Jaccard = fraction of matching signature positions."""
    sa = signatures.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
                        ),
                        lambda m: m == 1,
                    )
                )
                / F.size(F.col("sig_a"))
            ).alias("est_jaccard"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end near-dup pipeline: signatures -> LSH candidates ->
    estimate filter. Returns (id_a, id_b, est_jaccard >= threshold)."""
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_words, seed)
    # the signature relation feeds three consumers (banding + both sides of
    # the estimate join); materialize it once instead of recomputing the
    # aggregation per consumer. At cluster scale this would be a staged
    # parquet table; localCheckpoint is the in-session equivalent.
    sigs = sigs.localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(sigs, num_perm, bands, max_bucket=max_bucket)
    est = minhash_jaccard_estimate(cands, sigs)
    return est.where(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """(id, sim: bigint) classic SimHash: per-token 64-bit hash; each bit
    position accumulates +1/-1 by token bit; final bit = sign.

    Same explode -> hash-aggregate shape as minhash_signatures (codegen +
    partial aggregation; see that docstring for why not per-row folds):
    one conditional SUM per bit position, then the signature is assembled
    from the 64 counters. Empty docs get signature 0.

    The 64 token-hash bits come from two portable 32-bit md5-derived
    halves (bits 0-31 from hex digits 9-16, bits 32-63 from digits 1-8),
    so the DuckDB oracle replays the signature exactly.
    """
    df = _ensure_parallelism(df)
    ids = df.select(F.col(id_col).alias("id"))
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("_tok")
    ).select(
        "id",
        portable_hash32("_tok").alias("_hhi"),
        portable_hash32_lo("_tok").alias("_hlo"),
    )
    counts = exploded.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(
                        F.col("_hlo" if j < 32 else "_hhi"), j % 32
                    ).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"_c{j}")
            for j in range(bits)
        ]
    )
    # bit 63 must be the two's-complement negative value to fit a long
    sig = reduce_add(
        [
            F.when(F.col(f"_c{j}") > 0, F.lit((1 << j) if j < 63 else -(1 << 63)))
            .otherwise(F.lit(0))
            .cast("long")
            for j in range(bits)
        ]
    )
    return ids.join(counts, "id", "left").select(
        "id", F.coalesce(sig, F.lit(0)).cast("long").alias("sim")
    )


def reduce_add(cols: list[Column]) -> Column:
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    return total


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits, found by the pigeonhole banding:
    split the 64-bit signature into ``chunks`` 16-bit bands; any pair at
    distance <= chunks-1 must agree on at least one band, so candidate
    generation is an equi-join per band — never all-pairs."""
    width = 64 // chunks
    mask = (1 << width) - 1
    sigs = simhash_signatures(df, id_col, text_col)
    banded = sigs.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned("sim", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("band"),
    ).select("id", "sim", "band.band_idx", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.sim").bitwiseXOR(F.col("b.sim"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification / small-block dedup)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    n: int = 3,
    use_chars: bool = True,
    max_block_rows: int | None = 10_000,
) -> DataFrame:
    """Exact Jaccard over distinct n-grams for all pairs *within a block*
    (e.g. same source / length bucket). Blocking keeps the self-join from
    going quadratic globally; pick block_cols so blocks are O(thousands).

    A skewed block silently turns the within-block quadratic into the
    global quadratic this operator exists to avoid, so any block larger
    than ``max_block_rows`` fails the job loudly (VERDICT r4 #6). The
    guard is a lazy per-block count joined back on the block key — same
    shuffle keys as the self-join, no extra driver action, and the error
    surfaces during the real computation with the offending size in the
    message. For corpora where no safe blocking exists, use the
    minhash_lsh / simhash paths instead: their candidate volume is
    bounded by band-bucket size, not block size. Pass
    ``max_block_rows=None`` to opt out."""
    grams = char_ngrams(text_col, n) if use_chars else word_ngrams(text_col, n)
    df = _ensure_parallelism(df)
    base = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id"),
        F.array_distinct(grams).alias("grams"),
    )
    if max_block_rows is not None:
        counts = base.groupBy(*block_cols).agg(
            F.count(F.lit(1)).alias("_block_rows")
        )
        base = (
            base.join(counts, list(block_cols))
            .where(
                F.assert_true(
                    F.col("_block_rows") <= F.lit(max_block_rows),
                    F.concat(
                        F.lit(
                            "ngram_jaccard_pairs: a block exceeds "
                            f"max_block_rows={max_block_rows} (got "
                        ),
                        F.col("_block_rows").cast("string"),
                        F.lit(
                            " rows); refine block_cols or use the "
                            "minhash_lsh/simhash candidate paths"
                        ),
                    ),
                ).isNull()
            )
            .drop("_block_rows")
        )
    a, b = base.alias("a"), base.alias("b")
    cond = (F.col("a.id") < F.col("b.id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    return a.join(b, cond).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Cosine-similar pairs above threshold, blocked by random-hyperplane
    LSH: vectors agreeing on all ``planes`` sign bits land in one bucket;
    near-identical vectors almost surely share a bucket. Exact cosine is
    then computed only within buckets.

    Signatures come from the exploded quantized-SUM aggregate
    (similarity.hyperplane_signatures — codegen hash aggregate, not
    per-row HOF folds), and the bucket self-join moves only (id, bucket)
    rows; vectors are re-joined per candidate pair for the exact cosine,
    keeping the wide embedding column out of the candidate shuffle."""
    from youtube_trending_data_pipeline_spark.operators.similarity import (
        hyperplane_signatures,
    )

    sigs = hyperplane_signatures(
        df, id_col, vec_col, planes=planes, seed=seed, tables=1
    ).withColumnRenamed("b0", "bucket")
    sigs = sigs.localCheckpoint(eager=False)
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    # Exchange the NARROW pair rows round-robin before the vector joins
    # (r13, guide §2.5): the sig frame is small enough that the planner
    # broadcasts the bucket self-join, which fuses pair GENERATION with
    # the exact-cosine re-rank inside the scan partitions — so one
    # degenerate bucket's quadratic fan-out runs its entire interpreted
    # cosine workload in a single task (measured at the 100x replica:
    # 11 of 13 tasks sub-second, 2 stragglers >20 min). After this
    # exchange the straggler pays only pair generation (16-byte rows)
    # and the scoring spreads evenly; values are per-row, unaffected.
    pairs = pairs.repartition(df.sparkSession.sparkContext.defaultParallelism)
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_vec_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vec_b"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_similarity(F.col("_vec_a"), F.col("_vec_b")).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# Passage-level dedup (CCNet/Gopher-style repeated-passage removal)
# ---------------------------------------------------------------------------


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_words: int = 8,
) -> DataFrame:
    """Remove corpus-wide duplicated passages, keeping first occurrences.

    CCNet dedups a crawl at the paragraph/line level rather than the
    document level: a boilerplate passage repeated across thousands of
    pages is dropped everywhere except its first occurrence, while the
    surrounding unique prose survives. Documents here are segmented
    into consecutive non-overlapping ``passage_words``-word passages
    (the corpus has no newlines; fixed-width segmentation is the same
    shape CCNet applies per line). "First occurrence" is the globally
    least (doc_id, position) pair for the passage text.

    Returns (id_col, n_passages, n_kept, clean_text) for every document
    with >= 1 token, where clean_text is the document rebuilt from only
    its surviving passages in original order.

    Scale shape: one map-side segmentation (HOF, no UDF), one
    passage-keyed window for first-occurrence ranking (single shuffle
    of fixed-width passage rows), one doc-keyed aggregate to reassemble.
    At 100 TB the passage shuffle would key on a passage HASH rather
    than the text to keep exchange rows fixed-width — same plan shape.
    """
    from pyspark.sql import Window as W

    n = passage_words
    toks = F.filter(
        F.split(F.lower(text_col), " "), lambda x: x != F.lit("")
    )
    base = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .where(F.size("_toks") > 0)
    )
    px = base.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(_toks) + {n - 1}) div {n} - 1), "
                f"i -> struct(i AS pos, "
                f"array_join(slice(_toks, i * {n} + 1, {n}), ' ') AS passage))"
            )
        ).alias("p"),
    ).select(id_col, F.col("p.pos").alias("pos"), F.col("p.passage").alias("passage"))
    first = F.row_number().over(
        W.partitionBy("passage").orderBy(id_col, "pos")
    )
    ranked = px.withColumn("rn", first)
    kept = (
        ranked.where(F.col("rn") == 1)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "passage"))
                    ),
                    lambda s: s["passage"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    totals = px.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_passages"))
    return totals.join(kept, id_col, "left").select(
        id_col,
        "n_passages",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-then-dedup-within-cluster
# ---------------------------------------------------------------------------


_SEMDEDUP_MILLI = 1000  # fixed-point quantization scale for exact dots
# Corpus-relative cell knob (the mutual-kNN doctrine): expected cell
# size ~250 vectors keeps the within-cell Gram matrix bounded; the
# catalog entry derives n_cells = GREATEST(8, n // 250) from COUNT(*)
# on both engines.
_SEMDEDUP_CELL_SIZE = 250


def _semdedup_threshold_frac(threshold: float) -> tuple[int, int]:
    """Cosine threshold as an exact small fraction p/q (q <= 20) so the
    pair predicate is pure int64: q^2*dot^2 >= p^2*|a|^2*|b|^2 tops out
    near 400 * (64e6)^2 ~ 1.6e18 < 2^63 for 64-dim milli vectors.

    Loud by doctrine: a threshold that is NOT exactly representable
    with q <= 20 raises instead of silently snapping (0.87 would
    otherwise become 13/15 ~ 0.8667 and the public parameter would no
    longer mean what the caller passed), and negative thresholds raise
    because the dot >= 0 precondition would make them behave as |t|.
    """
    from fractions import Fraction

    if threshold < 0:
        raise ValueError(
            "semdedup threshold must be >= 0 (the int64 predicate "
            f"requires dot >= 0); got {threshold!r}"
        )
    if threshold > 1:
        raise ValueError(
            "semdedup threshold is a cosine and must be <= 1 "
            f"(Cauchy-Schwarz: no pair can pass a threshold > 1); got "
            f"{threshold!r} — p > q would also outgrow the kernel's "
            "q^2-side int64 headroom guard"
        )
    fr = Fraction(threshold).limit_denominator(20)
    if abs(float(fr) - float(threshold)) > 1e-12:
        raise ValueError(
            f"semdedup threshold {threshold!r} is not exactly "
            f"representable as p/q with q <= 20 (nearest is "
            f"{fr.numerator}/{fr.denominator} = {float(fr)!r}); pass an "
            "exact small rational (e.g. 0.25, 0.5, 0.85) so the int64 "
            "pair predicate means what you asked for"
        )
    return fr.numerator, fr.denominator


# Loud cell-size cap: argmin-L2 assignment to first-n-by-id seeds only
# *expects* ~_SEMDEDUP_CELL_SIZE members; a pathological corpus can skew
# a cell arbitrarily hot.  Past the cap one executor's Gram row-blocks
# stop being "bounded" in any honest sense, so we raise instead of
# OOMing quietly (row-block chunking below keeps peak memory ~block*n,
# so the cap is about total O(n^2) work per cell, not one allocation).
_SEMDEDUP_CELL_CAP = 50 * _SEMDEDUP_CELL_SIZE
# Upper-triangle row-block width: peak per-block memory is
# block * cell_size * 8 bytes (~200 MB at the cap) instead of the full
# n^2 Gram + triu index arrays.
_SEMDEDUP_GRAM_BLOCK = 2048


def _semdedup_assign_arrow(tbl):
    """Cell-assignment kernel (round 9): argmin integer squared-L2 of
    every vector to the seed set, ties to the smaller seed id, via ONE
    float64-BLAS exact integer matmul per salt group (_exact_sq_l2) —
    replacing a crossJoin(broadcast seeds) + interpreted zip_with-d2
    HOF + row_number window (the HOF evaluated n * n_cells * dim
    closures and the window shuffled n * n_cells vector-carrying rows;
    same fix as the mutual-kNN pivot ranking, catalog_analysis.
    _pivot_rank_arrow). Seeds sort by id, so numpy's first-minimum
    argmin IS the (d2 ASC, seed_id ASC) tie rule."""
    import numpy as np
    import pyarrow as pa

    split = _split_group(tbl, "is_seed", ids="_id", vecs="_qv")
    if split is None:
        return pa.table({})
    sids, S, pids, P = split
    j = np.argmin(_exact_sq_l2(P, S), axis=1)
    return pa.table({"_id": pids, "cell": sids[j], "_qv": _list_column(P)})


def _semdedup_cell_arrow(tbl, p: int, q: int):
    """Within-cell duplicate-pair kernel: exact integer Gram row-blocks
    (_exact_int_matmul_blocks: one exactness guard per cell),
    upper-triangle pairs in id order, the rational cosine-threshold
    predicate in int64.

    Two loud guards protect the int64 arithmetic end to end:
      * bound^2*dim <= 2^53 — every Gram entry is exact in float64;
      * q^2 * max(|v|^2)^2 < 2^63 — Cauchy-Schwarz gives
        dot^2 <= na*nb <= max(n2)^2, and p <= q for cosine thresholds,
        so this single check covers BOTH sides of
        q^2*dot^2 >= p^2*na*nb; without it unnormalized inputs that
        pass the Gram guard could silently wrap numpy int64 and emit
        wrong pairs (the DuckDB oracle raises on overflow, so the
        engines would diverge loudly-vs-silently).
    """
    import numpy as np
    import pyarrow as pa

    n = tbl.num_rows
    if n < 2:
        return pa.table({})
    if n > _SEMDEDUP_CELL_CAP:
        raise ValueError(
            f"semdedup cell holds {n} vectors, past the "
            f"{_SEMDEDUP_CELL_CAP}-member cap — the seed assignment "
            "skewed far beyond the expected cell size; raise n_cells "
            "(corpus-relative GREATEST(8, n // 250)) or re-seed"
        )
    ids = tbl.column("_id").combine_chunks().to_numpy(zero_copy_only=False)
    order = np.argsort(ids, kind="stable")
    ids = ids[order].astype(np.int64, copy=False)
    Q = _list_matrix(tbl.column("_qv"), n)[order]
    # the last row has no upper-triangle partner
    blocks = _exact_int_matmul_blocks(Q[:n - 1], Q, _SEMDEDUP_GRAM_BLOCK)
    n2 = np.einsum("ij,ij->i", Q, Q)
    n2_max = int(n2.max(initial=0))
    if q * q * n2_max * n2_max >= 2**63:  # Python ints: cannot wrap
        raise ValueError(
            "semdedup predicate headroom exceeded: q^2 * max(|v|^2)^2 "
            f"= {q * q * n2_max * n2_max} >= 2^63 would wrap int64 in "
            "q^2*dot^2 >= p^2*na*nb; normalize or re-scale the "
            "embeddings (milli quantization assumes ~unit range)"
        )
    out_a: list = []
    out_b: list = []
    cols = np.arange(n)
    for s, Gb in blocks:
        rows = np.arange(s, s + len(Gb))
        bi, bj = np.nonzero(cols[None, :] > rows[:, None])
        gi, gj = rows[bi], bj
        dot, na, nb = Gb[bi, bj], n2[gi], n2[gj]
        ok = (
            (dot >= 0)
            & (na > 0)
            & (nb > 0)
            & (q * q * dot * dot >= p * p * na * nb)
        )
        out_a.append(ids[gi][ok])
        out_b.append(ids[gj][ok])
    return pa.table({"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)})


def semdedup_keepers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    threshold: float = 0.25,
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): assign every
    embedding to a cluster cell, find cosine-similar pairs WITHIN each
    cell, close them into duplicate groups, and keep one representative
    (min id) per group.

    Round 8: ALL-INTEGER arithmetic. Vectors quantize to milli
    fixed-point; cell assignment is argmin integer squared-L2 to the
    first ``n_cells`` vectors by id (ties to the smaller seed id — the
    deterministic stand-in for the paper's KMeans cells, now the same
    metric the IVF-Lloyd family uses); the within-cell pair test is the
    rational predicate q^2*dot^2 >= p^2*|a|^2*|b|^2 (threshold as an
    exact small fraction), evaluated by ONE float64-BLAS exact Gram
    matrix per cell in an Arrow kernel — replacing a per-pair
    interpreted HOF cosine that dominated the entry's runtime (Spark
    higher-order functions run closure-per-element, ~100x slower than
    BLAS at cell sizes that matter).

    Output: one row per input vector — (id, cell, rep_id, kept) where
    rep_id is the duplicate-group representative (itself for
    singletons) and kept marks the survivors of the pruned corpus.

    Scale shape: cell assignment is an ``n_cells``-row broadcast
    constant-append; the quadratic pair scoring is confined WITHIN
    cells (at 100 TB n_cells scales with the corpus so cells stay
    bounded — the paper uses ~100k clusters for LAION; the catalog
    entry derives n_cells from COUNT(*) like the mutual-kNN knob);
    the kernel shuffles (id, qv) rows once by cell and emits only
    passing (id, id) pairs; the closure is the same O(log n)-round
    min-label propagation as connected_components.
    """
    from pyspark.sql import Window as W

    from youtube_trending_data_pipeline_spark.operators.components import (
        connected_components,
    )

    p, q = _semdedup_threshold_frac(threshold)
    # int32 transport (r13, the mutual-kNN _QV_SPARK_I32 doctrine):
    # milli-quantized coordinates are |x| <= ~1e5 wherever the exact-dot
    # precondition holds, so INT never truncates a value the kernels
    # would accept; kernels widen to int64 before the matmul.
    qdf = df.select(
        F.col(id_col).alias("_id"),
        F.expr(
            f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
            f" * {_SEMDEDUP_MILLI} + 0.5) AS INT))"
        ).alias("_qv"),
    )
    seeds = qdf.orderBy("_id").limit(n_cells)
    # salt-group argmin-L2 assignment (round 9): one BLAS kernel per
    # salt group instead of crossJoin + interpreted HOF + window — see
    # _semdedup_assign_arrow; output is a pure function of
    # (_qv, seeds), bit-identical at any parallelism.
    spark = df.sparkSession
    n_salts = spark.sparkContext.defaultParallelism
    salts = F.broadcast(
        spark.range(n_salts).select(F.col("id").cast("int").alias("g"))
    )
    # pmod, not %: Spark % keeps the dividend's sign, so a negative
    # user-supplied id would land in a salt group with no replicated
    # seeds and be silently dropped by the assignment kernel
    probers = qdf.select(
        F.pmod(F.col("_id"), F.lit(n_salts)).cast("int").alias("g"),
        "_id",
        "_qv",
        F.lit(False).alias("is_seed"),
    )
    seeds_rep = seeds.crossJoin(salts).select(
        "g", "_id", "_qv", F.lit(True).alias("is_seed")
    )
    assigned = (
        probers.unionByName(seeds_rep)
        .groupBy("g")
        .applyInArrow(
            _semdedup_assign_arrow,
            schema="_id long, cell long, _qv array<int>",
        )
        .localCheckpoint(eager=False)
    )
    cells = assigned.select("_id", "cell")
    pairs = assigned.groupBy("cell").applyInArrow(
        lambda t_: _semdedup_cell_arrow(t_, p, q),
        schema="id_a long, id_b long",
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        cells.join(
            comp.select(F.col("node").alias("_id"), "component"),
            "_id",
            "left",
        )
        .select(
            F.col("_id").alias(id_col),
            "cell",
            F.coalesce("component", F.col("_id")).alias("rep_id"),
            (F.coalesce("component", F.col("_id")) == F.col("_id")).alias(
                "kept"
            ),
        )
    )
