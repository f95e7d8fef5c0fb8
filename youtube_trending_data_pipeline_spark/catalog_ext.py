"""Catalog extensions: training-data pipeline operators (SURVEY §7 step 7
and the BASELINE.json north star) — dedup, similarity search, text
analysis, multimodal plumbing — registered with DuckDB oracles wherever
the semantics are SQL-expressible, rows-only otherwise.

Float determinism policy is the same as catalog.py: every floating
aggregate either (a) derives from exact integers, or (b) is a fold in a
defined order that both engines execute identically (verified bit-exact
for list_sum/aggregate in tests/test_oracle_parity.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.catalog import register, t, ts_micros, ts_nanos
from youtube_trending_data_pipeline_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    lang_id,
    mean_token_length,
    punct_ratio,
    stopword_ratio,
    token_count,
)
from youtube_trending_data_pipeline_spark.operators import dedup as dd
from youtube_trending_data_pipeline_spark.operators import similarity as sim

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """,
    "Exact dedup: hash-groupBy on normalized content (extension; one shuffle "
    "of fixed-width hashes, not documents)",
)
def dedup_exact(spark, sf_dir):
    return dd.exact_duplicates(t(spark, sf_dir, "documents"), "doc_id", "text")


# DuckDB mirror of the portable 32-bit base hash (operators/dedup.py
# portable_hash32): first/second 8 hex digits of md5 parsed as an integer.
_H32 = "(('0x' || substr(md5({s}), 1, 8))::BIGINT)"
_H32_LO = "(('0x' || substr(md5({s}), 9, 8))::BIGINT)"
_TOKS = "list_filter(str_split_regex({t}, '\\s+'), x -> x <> '')"


def _minhash_oracle(
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    seed: int = 42,
    threshold: float = 0.5,
) -> str:
    """DuckDB replay of minhash_near_duplicates, bit-exact: same word
    shingles, same portable md5-derived base hash, same seeded Carter-Wegman
    permutations mod the Mersenne prime 2^31-1 (round 11 — see
    operators/dedup.py:_cw_params31 for why the old 2^61-1 family was
    order-preserving), same empty-doc sentinels, band
    equality on the raw signature slices (the Spark side hashes each band
    slice, which only matters for shuffle-key width, not semantics)."""
    params = dd._cw_params31(num_perm, seed)
    rpb = num_perm // bands
    p = dd._MERSENNE_P31
    n = shingle_words
    mins = ",\n             ".join(
        f"MIN(((h % {p}) * {a} + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    sent = ",\n             ".join(
        f"COALESCE(m{i}, {-(i + 1)}) AS m{i}" for i in range(num_perm)
    )
    band_eq = " OR ".join(
        "("
        + " AND ".join(
            f"a.m{j} = b.m{j}" for j in range(bi * rpb, (bi + 1) * rpb)
        )
        + ")"
        for bi in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(t="text")} AS tk FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(tk) - {n} + 2),
                       i -> array_to_string(list_slice(tk, i, i + {n - 1}), ' '))
      )) AS s
      FROM toks
    ), hashed AS (
      SELECT doc_id, {_H32.format(s="s")} AS h FROM sh
    ), mins AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ), sigs AS (
      SELECT d.doc_id,
             {sent}
      FROM (SELECT doc_id FROM documents) d LEFT JOIN mins USING (doc_id)
    )
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ({matches}) / {float(num_perm)} AS est_jaccard
      FROM sigs a JOIN sigs b
        ON a.doc_id < b.doc_id AND ({band_eq})
    ) WHERE est_jaccard >= {threshold}
    """


def _simhash_oracle(max_hamming: int = 3, chunks: int = 4, bits: int = 64) -> str:
    """DuckDB replay of simhash_near_duplicates: same whitespace tokens,
    same md5-derived 64 hash bits (low 32 from hex digits 9-16, high 32
    from 1-8), per-bit +/-1 conditional sums, sign bits packed per 16-bit
    band, pigeonhole band equality, hamming via xor + bit_count."""
    width = bits // chunks
    cnts = ",\n             ".join(
        f"SUM(CASE WHEN (({'hlo' if j < 32 else 'hhi'} >> {j % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS c{j}"
        for j in range(bits)
    )
    bvs = ",\n             ".join(
        "("
        + " + ".join(
            f"(CASE WHEN c{j} > 0 THEN {1 << (j - bi * width)} ELSE 0 END)"
            for j in range(bi * width, (bi + 1) * width)
        )
        + f") AS bv{bi}"
        for bi in range(chunks)
    )
    band_eq = " OR ".join(f"a.bv{bi} = b.bv{bi}" for bi in range(chunks))
    hamming = " + ".join(
        f"bit_count(xor(a.bv{bi}, b.bv{bi}))" for bi in range(chunks)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS.format(t="text")}) AS tok FROM documents
    ), hashed AS (
      SELECT doc_id, {_H32.format(s="tok")} AS hhi, {_H32_LO.format(s="tok")} AS hlo
      FROM toks
    ), counts AS (
      SELECT doc_id,
             {cnts}
      FROM hashed GROUP BY doc_id
    ), sigs AS (
      SELECT d.doc_id,
             {bvs}
      FROM (SELECT doc_id FROM documents) d LEFT JOIN counts USING (doc_id)
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST({hamming} AS INTEGER) AS hamming
      FROM sigs a JOIN sigs b
        ON a.doc_id < b.doc_id AND ({band_eq})
    ) WHERE hamming <= {max_hamming}
    """


@register(
    "dedup_minhash_lsh",
    _minhash_oracle(),
    "MinHash+LSH near-dup: shingle -> 64-perm minhash -> 16-band bucket join "
    "(extension; exact oracle replays the portable md5-based signatures)",
)
def dedup_minhash_lsh(spark, sf_dir):
    return dd.minhash_near_duplicates(
        t(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.5
    ).orderBy("id_a", "id_b")


@register(
    "dedup_simhash",
    _simhash_oracle(),
    "SimHash near-dup: 64-bit sign aggregate + 4x16-bit pigeonhole banding "
    "(extension; exact oracle replays the portable md5-based signatures)",
)
def dedup_simhash(spark, sf_dir):
    return dd.simhash_near_duplicates(
        t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    ).orderBy("id_a", "id_b")


@register(
    "dedup_ngram_jaccard",
    """
    WITH grams AS (
      SELECT doc_id, source, n_chars,
             list_distinct(list_transform(range(1, GREATEST(length(text) - 2, 0) + 1),
                           i -> substr(text, CAST(i AS INT), 3))) AS g
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0
                THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.g, b.g)))
                ELSE 0.0 END AS jaccard
    FROM grams a JOIN grams b
      ON a.source = b.source AND a.doc_id < b.doc_id
    """,
    "Exact char-3-gram Jaccard within source blocks (extension; blocked "
    "self-join — never global all-pairs)",
)
def dedup_ngram_jaccard(spark, sf_dir):
    return dd.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", ["source"], n=3
    )


@register(
    "funnel_view_click_purchase",
    """
    WITH s1 AS (
      SELECT user_id AS u, MIN(epoch_ns(ts)) AS view_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id AS u, MIN(epoch_ns(e.ts)) AS click_ts
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.view_ts
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id AS u, MIN(epoch_ns(e.ts)) AS purchase_ts
      FROM events e JOIN s2 ON e.user_id = s2.u
      WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.click_ts
      GROUP BY e.user_id
    )
    SELECT 'view' AS step, 1 AS step_idx, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
    UNION ALL
    SELECT 'click', 2, CAST(COUNT(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT 'purchase', 3, CAST(COUNT(*) AS BIGINT) FROM s3
    """,
    "Funnel analysis: ordered view->click->purchase progression per user "
    "(operators/funnel.py); each step strictly after the previous step's "
    "first occurrence",
)
def funnel_view_click_purchase(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.funnel import funnel_summary

    ev = t(spark, sf_dir, "events")
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    return funnel_summary(ev, "user_id", "ts", steps)


@register(
    "retention_cohorts",
    """
    WITH days AS (
      SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events
    ), first AS (
      SELECT u, MIN(day) AS cohort_day FROM days GROUP BY u
    )
    SELECT f.cohort_day, CAST(date_diff('day', f.cohort_day, d.day) AS INT) AS day_offset,
           CAST(COUNT(DISTINCT d.u) AS BIGINT) AS n_users
    FROM days d JOIN first f ON d.u = f.u
    WHERE date_diff('day', f.cohort_day, d.day) BETWEEN 0 AND 14
    GROUP BY 1, 2
    """,
    "Cohort retention: day-0 cohort by first activity, distinct active "
    "users at each day offset (operators/funnel.py)",
)
def retention_cohorts_q(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import event_day
    from youtube_trending_data_pipeline_spark.operators.funnel import (
        retention_cohorts,
    )

    ev = t(spark, sf_dir, "events")
    return retention_cohorts(ev, "user_id", event_day("ts"), max_days=14)


@register(
    "dedup_levenshtein",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS INT)
             AS prefix_edit_distance
    FROM documents a JOIN documents b
      ON a.source = b.source AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
    """,
    "Fuzzy near-dup: Levenshtein distance on 40-char prefixes over "
    "(source, length)-blocked pairs — edit-distance verification stage "
    "for dedup candidates (extension)",
)
def dedup_levenshtein(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    a, b = docs.alias("a"), docs.alias("b")
    return a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.n_chars") == F.col("b.n_chars"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.levenshtein(
            F.substring(F.col("a.text"), 1, 40), F.substring(F.col("b.text"), 1, 40)
        ).alias("prefix_edit_distance"),
    )


def _embedding_lsh_oracle(planes: int = 8, seed: int = 7, threshold: float = 0.2) -> str:
    """Generate the DuckDB mirror of hyperplane_signatures + cosine filter.

    The random planes are seeded constants inlined as literal arrays, and
    each elementwise product is quantized to an integer number of 1e-9
    units before summing (similarity._QUANT) — the per-plane dot is an
    exact BIGINT total, so the bucket assignment is bit-identical to
    Spark's order-independent partial aggregation by construction, not
    merely by matching float fold order."""
    hp = sim._hyperplanes(64, planes, seed)

    def qdot_sql(vec: str, plane: list[float]) -> str:
        arr = "[" + ", ".join(repr(w) for w in plane) + "]"
        return (
            f"list_sum(list_transform(list_zip({vec}, {arr}), "
            f"p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) "
            f"* 1000000000.0 + 0.5) AS BIGINT)))"
        )

    def sig_sql(vec: str) -> str:
        bits = [
            f"(CASE WHEN {qdot_sql(vec, plane)} > 0 THEN {1 << j} ELSE 0 END)"
            for j, plane in enumerate(hp)
        ]
        return "(" + " + ".join(bits) + ")"

    cos = _COS_SQL.format(a="a.embedding", b="b.embedding")
    return f"""
    WITH sigs AS (
      SELECT vec_id, embedding, {sig_sql("embedding")} AS bucket FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos
    FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold}
    """


@register(
    "dedup_embedding_cosine",
    None,  # replaced with generated SQL right below (needs _COS_SQL defined)
    "Embedding cosine near-dup via hyperplane-LSH blocking then exact cosine "
    "(extension; oracle inlines the seeded plane constants)",
)
def dedup_embedding_cosine(spark, sf_dir):
    return dd.embedding_near_duplicates(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.2
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COS_SQL = """
  list_sum(list_transform(list_zip({a}, {b}),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


@register(
    "sim_bruteforce_topk",
    f"""
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS_SQL.format(a="q.embedding", b="c.embedding")} AS cos,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY {_COS_SQL.format(a="q.embedding", b="c.embedding")} DESC,
                                         c.vec_id ASC) AS rank
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 5 AND c.vec_id >= 5
    ) WHERE rank <= 3
    """,
    "Brute-force cosine top-k ANN baseline (extension; corpus-parallel scan, "
    "broadcast queries, bit-exact double math both engines)",
)
def sim_bruteforce_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    return sim.brute_force_topk(corpus, queries, k=3)


def _lsh_topk_oracle(
    planes: int = 4, tables: int = 16, seed: int = 7, k: int = 3
) -> str:
    """DuckDB replay of the ENTIRE lsh_topk pipeline (not brute force).

    Mirrors similarity.hyperplane_signatures exactly: per table ti the
    seeded plane constants ``_hyperplanes(64, planes, seed + ti)`` are
    inlined as literal arrays, each elementwise product is quantized to
    1e-9 integer units (similarity._QUANT) so the per-plane dot is an
    exact BIGINT — bucket assignment is therefore bit-identical to
    Spark's order-independent partial aggregation. Candidates are pairs
    sharing ANY table's bucket (the multi-table union), then exact
    cosine re-rank. Because the oracle replays candidate generation,
    the comparison holds at ANY recall — a testdata regeneration that
    drops recall below 1.0 no longer converts tuning noise into a gate
    failure (ADVICE r4)."""

    def qdot_sql(vec: str, plane: list[float]) -> str:
        arr = "[" + ", ".join(repr(w) for w in plane) + "]"
        return (
            f"list_sum(list_transform(list_zip({vec}, {arr}), "
            f"p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) "
            f"* 1000000000.0 + 0.5) AS BIGINT)))"
        )

    sig_cols = []
    for ti in range(tables):
        hp = sim._hyperplanes(64, planes, seed + ti)
        bits = [
            f"(CASE WHEN {qdot_sql('embedding', plane)} > 0"
            f" THEN {1 << pj} ELSE 0 END)"
            for pj, plane in enumerate(hp)
        ]
        sig_cols.append("(" + " + ".join(bits) + f") AS b{ti}")
    any_match = " OR ".join(f"q.b{ti} = c.b{ti}" for ti in range(tables))
    rr = _COS_SQL.format(a="qv.embedding", b="cv.embedding")
    return f"""
    WITH sigs AS (
      SELECT vec_id, {", ".join(sig_cols)} FROM embeddings
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM sigs q JOIN sigs c
        ON q.vec_id < 5 AND c.vec_id >= 5 AND ({any_match})
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT cand.query_id, cand.neighbor_id, {rr} AS cos,
             ROW_NUMBER() OVER (PARTITION BY cand.query_id
                                ORDER BY {rr} DESC,
                                         cand.neighbor_id ASC) AS rank
      FROM cand
      JOIN embeddings qv ON qv.vec_id = cand.query_id
      JOIN embeddings cv ON cv.vec_id = cand.neighbor_id
    ) WHERE rank <= {k}
    """


@register(
    "sim_lsh_topk",
    _lsh_topk_oracle(),
    "Hyperplane-LSH approximate top-k with exact re-rank, in the EXACT "
    "gate: the oracle replays the WHOLE pipeline — seeded plane "
    "constants, 1e-9-unit quantized BIGINT dots, per-table bucket "
    "assignment, multi-table candidate union, exact cosine re-rank — "
    "the same way _ivf_pivot_oracle replays IVF. The check therefore "
    "verifies the LSH plumbing itself and holds at any recall, so a "
    "driver testdata regeneration cannot turn tuning noise into a gate "
    "failure (recall was separately measured 1.0 at 16 tables x 4 "
    "planes on the r1-r4 corpora; tests/test_new_operators.py keeps a "
    "recall floor assertion against brute force).",
)
def sim_lsh_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    return sim.lsh_topk(
        corpus, queries, k=3, planes=4, tables=16
    ).orderBy("query_id", "rank")


# sim_ivf_topk is registered in catalog_analysis.py (round 8): its cell
# builder moved from MLlib KMeans (KMeans|| init samples per partition,
# so cells shift with physical layout — the registry's one rows-only
# entry through r7) to the deterministic integer-Lloyd kernel, which an
# unrolled-CTE oracle replays end-to-end. The MLlib operator
# (operators/similarity.py ivf_topk) remains the quality path, recall-
# tested in tests/test_extensions.py.


def _ivf_knob_cte(corpus_cte: str = "corpus") -> str:
    """Shared nc CTE body replaying operators.similarity.ivf_knobs from
    COUNT(*) — corpus-relative cells with the probe ~ sqrt(cells)
    schedule (CEIL/SQRT on doubles is correctly-rounded IEEE in both
    engines; floors reproduce (8, 3) at every gate SF)."""
    return f"""
      SELECT n_cells,
             GREATEST(3, CAST(CEIL(SQRT(CAST(9 * n_cells AS DOUBLE) / 8))
                              AS BIGINT)) AS probe,
             LEAST(256, n_cells) AS ncode
      FROM (
        SELECT GREATEST(8, COUNT(*) // 250) AS n_cells FROM {corpus_cte}
      )"""


# quantized integer dot for cell-assignment ranking (round 10): the
# exact arithmetic the Spark-side salt-group BLAS kernel computes —
# list_sum of elementwise int64 products over the 1e-4 grid
_QDOT_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
)
_QGRID_SQL = (
    "list_transform({v}, x -> CAST(floor(CAST(x AS DOUBLE)"
    " * 10000 + 0.5) AS BIGINT))"
)


def _ivf_pivot_oracle(k: int = 3) -> str:
    cs = _QDOT_SQL.format(a="c.qv", b="s.qv")
    qs_ = _QDOT_SQL.format(a="q.qv", b="s.qv")
    rr = _COS_SQL.format(a="q.embedding", b="co.embedding")
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding, {_QGRID_SQL.format(v="embedding")} AS qv
      FROM embeddings WHERE vec_id >= 5
    ), nc AS (
      -- corpus-relative cells + probe (round 10): replays ivf_knobs
      {_ivf_knob_cte("corpus")}
    ), seeds AS (
      SELECT vec_id AS seed_id, qv FROM (
        SELECT vec_id, qv,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM corpus
      ) r, nc WHERE r.rn <= nc.n_cells
    ), q AS (
      SELECT vec_id AS query_id, embedding,
             {_QGRID_SQL.format(v="embedding")} AS qv
      FROM embeddings WHERE vec_id < 5
    ), cells AS (
      SELECT vec_id, cell FROM (
        SELECT c.vec_id, s.seed_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY {cs} DESC, s.seed_id ASC) AS rn
        FROM corpus c, seeds s
      ) WHERE rn = 1
    ), probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, s.seed_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {qs_} DESC, s.seed_id ASC) AS rn
        FROM q, seeds s
      ) p, nc WHERE p.rn <= nc.probe
    ), cand AS (
      SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
      FROM probes p JOIN cells c ON c.cell = p.cell
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT cand.query_id, cand.neighbor_id, {rr} AS cos,
             ROW_NUMBER() OVER (PARTITION BY cand.query_id
                                ORDER BY {rr} DESC,
                                         cand.neighbor_id ASC) AS rank
      FROM cand
      JOIN q ON q.query_id = cand.query_id
      JOIN corpus co ON co.vec_id = cand.neighbor_id
    ) WHERE rank <= {k}
    """


@register(
    "sim_ivf_pivot_topk",
    _ivf_pivot_oracle(),
    "IVF ANN with deterministic pivot cells, end-to-end in the EXACT "
    "gate: cell build (argmax assignment to the pivot vectors), "
    "multi-cell probing, and exact re-rank are all pure functions of "
    "the data, so the oracle replays the ENTIRE index pipeline — "
    "including which candidates were pruned — not just the final "
    "ranking. Round 10: cells and probe are CORPUS-RELATIVE "
    "(operators/similarity.ivf_knobs — cells = GREATEST(8, n/250), "
    "probe ~ sqrt(cells) with floor 3, both replayed by the oracle "
    "from COUNT(*)), so candidates/query grows as sqrt(n) instead of "
    "n, and assignment ranks by QUANTIZED INTEGER dot evaluated in "
    "the salt-group BLAS kernel (assign_pivot_cells — the interpreted "
    "HOF + window shape it replaces measured 23x wall at the 10x "
    "replica once cells scaled); the exact-cosine re-rank output is "
    "unchanged in form. "
    "Complements sim_ivf_topk (learned KMeans cells, better recall per "
    "probe, but KMeans|| init depends on physical partitioning, hence "
    "the integer-Lloyd build there).",
)
def sim_ivf_pivot_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    n_cells, n_probe = sim.ivf_knobs(corpus.count())
    return sim.ivf_pivot_topk(
        corpus, queries, k=3, n_cells=n_cells, n_probe=n_probe
    ).orderBy("query_id", "rank")


@register(
    "clean_corpus_pipeline",
    f"""
    WITH scored AS (
      SELECT doc_id, text, lang,
             len(list_filter(str_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ), kept AS (
      SELECT * FROM scored
      WHERE n_tokens BETWEEN 10 AND 500 AND lang IN ('en', 'es', 'de')
    ), dedup AS (
      SELECT fp, MIN(doc_id) AS doc_id FROM kept GROUP BY fp
    )
    SELECT k.lang, CAST(COUNT(*) AS BIGINT) AS docs_kept,
           CAST(SUM(CAST(k.n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
    FROM kept k JOIN dedup d ON k.doc_id = d.doc_id
    GROUP BY k.lang
    """,
    "Composite training-data cleaning pipeline: quality filter -> language "
    "filter -> exact dedup (keep min id) -> per-language token accounting. "
    "The end-to-end corpus-prep shape every stage above feeds.",
)
def clean_corpus_pipeline(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.functions.text import token_count

    scored = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        token_count("text").alias("n_tokens"),
        fingerprint("text").alias("fp"),
    )
    kept = scored.where(
        F.col("n_tokens").between(10, 500) & F.col("lang").isin("en", "es", "de")
    )
    dedup = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return (
        kept.join(dedup, ["fp", "doc_id"], "left_semi")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@register(
    "sim_label_centroids",
    """
    SELECT label, dim, sum_comp / n AS avg_component FROM (
      SELECT label, dim,
             list_sum(list(comp ORDER BY vec_id)) AS sum_comp,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT label, vec_id,
                   unnest(range(len(embedding))) AS dim,
                   unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS comp
            FROM embeddings)
      GROUP BY label, dim
    )
    """,
    "Per-label centroids via posexplode; (label, dim) shuffle key keeps the "
    "reduction fully parallel. Fold order fixed by vec_id for bit-exactness.",
)
def sim_label_centroids(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.col("embedding")).alias("dim", "comp"),
    ).select("label", "vec_id", F.col("dim").cast("long").alias("dim"),
             F.col("comp").cast("double").alias("comp"))
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("vec_id", "comp"))),
                F.lit(0.0),
                lambda acc, s: acc + s["comp"],
            ).alias("sum_comp"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("label", "dim", (F.col("sum_comp") / F.col("n")).alias("avg_component"))
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _sql_tokens(col: str = "text") -> str:
    return f"list_filter(str_split_regex({col}, '\\s+'), x -> x <> '')"


def _sql_marker_score(markers: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(toks, x -> x IN ({inlist})))"


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, x -> x IN
                     ({", ".join(f"'{s}'" for s in STOPWORDS)}))) AS DOUBLE) / len(toks)
                ELSE 0.0 END AS stop_ratio,
           CASE WHEN length(text) > 0
                THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                     AS DOUBLE) / length(text)
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(toks) > 0
                THEN CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT)))
                     AS DOUBLE) / len(toks)
                ELSE 0.0 END AS mean_tok_len
    FROM (SELECT doc_id, text, {_sql_tokens()} AS toks FROM documents)
    """,
    "Quality scoring: token count, stopword ratio, punctuation ratio, mean "
    "token length — all integer-derived, bit-exact (extension)",
)
def text_stats(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        stopword_ratio("text").alias("stop_ratio"),
        punct_ratio("text").alias("punct_ratio"),
        mean_token_length("text").alias("mean_tok_len"),
    )


def _langid_oracle() -> str:
    langs = sorted(LANG_MARKERS)
    scores = ", ".join(
        f"{_sql_marker_score(LANG_MARKERS[lang])} AS s_{lang}" for lang in langs
    )
    # first language (sorted order) achieving the maximum score wins —
    # mirrors the strict-greater fold in functions/text.py::lang_id
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{other}" for other in langs if other != lang]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
    SELECT doc_id, lang, {case_sql} AS lang_pred
    FROM (SELECT doc_id, lang, {scores}
          FROM (SELECT doc_id, lang, {_sql_tokens()} AS toks FROM documents))
    """


@register(
    "text_langid",
    _langid_oracle(),
    "Language-ID heuristic: marker-token scores, argmax with deterministic "
    "tie-break (extension; swap pandas-UDF fastText at deploy time)",
)
def text_langid(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


@register(
    "text_token_bpe",
    """
    SELECT doc_id,
           CAST(len(list_filter(str_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT)
             AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
             AS bpe_ish_tokens
    FROM documents
    """,
    "Token counting two ways: whitespace and a BPE-ish regex (letter runs, "
    "digit runs, single punctuation) — the pretokenizer shape of GPT-style "
    "BPE vocabularies (extension)",
)
def text_token_bpe(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])"), 1
            )
        ).cast("long").alias("bpe_ish_tokens"),
    )


@register(
    "sample_stratified",
    """
    WITH frac AS (
      SELECT * FROM (VALUES ('en', 0.5), ('es', 1.0), ('de', 1.0),
                            ('fr', 1.0), ('zh', 0.25)) AS f(lang, p)
    )
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d JOIN frac USING (lang)
    WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296 < CAST(p * 4294967296 AS BIGINT)
    GROUP BY d.lang
    """,
    "Stratified sampling with per-language fractions, as a DETERMINISTIC "
    "Knuth-multiplicative-hash threshold (keep iff hash(doc_id) < p*2^32) "
    "instead of an RNG — reruns, engines, and partitionings agree "
    "bit-for-bit, which also makes the sample stable across incremental "
    "reprocessing at 100 TB (an RNG re-draw would churn the kept set). "
    "Spark's sampleBy remains the per-row-RNG alternative, exercised in "
    "tests/test_new_operators.py. Broadcast 5-row fraction dim, one "
    "hash-aggregate: single shuffle.",
)
def sample_stratified(spark, sf_dir):
    fractions = {"en": 0.5, "es": 1.0, "de": 1.0, "fr": 1.0, "zh": 0.25}
    frac = F.broadcast(
        t(spark, sf_dir, "documents")
        .sparkSession.createDataFrame(
            list(fractions.items()), "lang string, p double"
        )
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    h = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    )
    return (
        docs.join(frac, "lang")
        .where(h < (F.col("p") * F.lit(4294967296)).cast("long"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "grouped_zscore",
    """
    WITH vals AS (
      SELECT vec_id, label, CAST(embedding[1] AS DOUBLE) AS lbl_val FROM embeddings
    ), stats AS (
      SELECT label,
             list_sum(list(lbl_val ORDER BY vec_id)) AS s,
             list_sum(list(lbl_val * lbl_val ORDER BY vec_id)) AS sq,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM vals GROUP BY label
    )
    SELECT v.vec_id, v.label,
           CASE WHEN sqrt(sq / n - (s / n) * (s / n)) > 0
                THEN (lbl_val - s / n) / sqrt(sq / n - (s / n) * (s / n))
                ELSE 0.0 END AS zscore
    FROM vals v JOIN stats USING (label)
    """,
    "Per-group z-score normalization, JVM path (operators/grouped.py; the "
    "applyInPandas variant is the documented escape hatch, equality-tested "
    "in pytest). Moments folded in vec_id order for cross-engine "
    "bit-equality — order-dependent window sums would not hash-match.",
)
def grouped_zscore(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.element_at("embedding", 1).cast("double").alias("lbl_val"),
    )
    ordered = F.array_sort(F.collect_list(F.struct("vec_id", "lbl_val")))
    stats = emb.groupBy("label").agg(
        F.aggregate(ordered, F.lit(0.0), lambda a, s: a + s["lbl_val"]).alias("s"),
        F.aggregate(
            ordered, F.lit(0.0), lambda a, s: a + s["lbl_val"] * s["lbl_val"]
        ).alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = F.col("s") / F.col("n")
    std = F.sqrt(F.col("sq") / F.col("n") - mean * mean)
    return (
        emb.join(stats, "label")
        .select(
            "vec_id",
            "label",
            F.when(std > 0, (F.col("lbl_val") - mean) / std)
            .otherwise(F.lit(0.0))
            .alias("zscore"),
        )
    )


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    "Document fingerprinting: md5 of normalized content (extension)",
)
def text_fingerprint(spark, sf_dir):
    return t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (stubbed decode; real Spark plumbing)
# ---------------------------------------------------------------------------


def _ppm_pixel(i: int) -> str:
    """SQL expr for synthetic pixel byte i of a doc's 2x2 P6 test image."""
    return f"((doc_id * 7 + {i} * 13) % 256)"


def _multimodal_oracle() -> str:
    """Exact replay of the REAL PPM decode path: the Spark query builds a
    2x2 binary PPM per document (header 'P6\\n2 2\\n255\\n' + 12 pixel
    bytes derived from doc_id), the mapInPandas kernel decodes actual
    pixels, and this oracle recomputes the expected pixel features from
    the same arithmetic — if the decoder mis-parses the header, drops a
    channel, or mis-orders pixels, the hash check fails."""
    sum_r = " + ".join(_ppm_pixel(k * 3) for k in range(4))
    sum_g = " + ".join(_ppm_pixel(k * 3 + 1) for k in range(4))
    sum_b = " + ".join(_ppm_pixel(k * 3 + 2) for k in range(4))
    all_px = ", ".join(_ppm_pixel(i) for i in range(12))
    # Scalar double columns (not a list) so the external gate's pandas
    # canonicalizer can sort/hash the frame — lists are unhashable there.
    return f"""
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST(23 AS BIGINT) AS n_bytes,
           CAST(2.0 AS DOUBLE) AS img_w,
           CAST(2.0 AS DOUBLE) AS img_h,
           ({sum_r}) / (255.0 * 4) AS mean_r,
           ({sum_g}) / (255.0 * 4) AS mean_g,
           ({sum_b}) / (255.0 * 4) AS mean_b,
           ({sum_r} + {sum_g} + {sum_b}) / (255.0 * 3 * 4) AS mean_all,
           LEAST({all_px}) / 255.0 AS px_min,
           GREATEST({all_px}) / 255.0 AS px_max
    FROM documents
    """


@register(
    "multimodal_image_features",
    _multimodal_oracle(),
    "Multimodal: per-doc synthetic 2x2 binary PPM (real bytes, built "
    "JVM-side) -> Arrow-batched mapInPandas with a REAL pure-Python P6 "
    "decoder -> pixel-derived features; oracle recomputes the expected "
    "pixel arithmetic exactly",
)
def multimodal_image_features(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        extract_image_features,
    )

    # 12 pixel bytes: value_i = (doc_id*7 + i*13) % 256, hex-encoded then
    # unhex'd to binary; header + raster = a well-formed 23-byte P6 image
    pixel_hex = F.concat(
        *[
            F.lpad(F.hex((F.col("doc_id") * 7 + i * 13) % 256), 2, "0")
            for i in range(12)
        ]
    )
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.concat(
            F.encode(F.lit("P6\n2 2\n255\n"), "utf-8"), F.unhex(pixel_hex)
        ).alias("content"),
        F.lit(None).cast("string").alias("uri"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.lit(None).cast("string").alias("codec"),
    )
    feat_names = [
        "img_w", "img_h", "mean_r", "mean_g", "mean_b",
        "mean_all", "px_min", "px_max",
    ]
    # Flatten the 8-dim feature array to named scalar columns so the
    # external gate can canonicalize the result (lists are unhashable in
    # its pandas sort/hash step). The operator API keeps the array form.
    return extract_image_features(media).select(
        "asset_id",
        "n_bytes",
        *[
            F.element_at("feature", i + 1).alias(name)
            for i, name in enumerate(feat_names)
        ],
    ).orderBy("asset_id")


@register(
    "stream_session_windows",
    """
    WITH e AS (
      SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
             CAST(ROUND(value*100) AS BIGINT) AS vc
      FROM events
    ), m AS (
      SELECT user_id, us, vc,
             CASE WHEN LAG(us) OVER w IS NULL
                       OR us - LAG(us) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ), s AS (
      SELECT user_id, us, vc,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           CAST(MIN(us) AS BIGINT) AS session_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(vc) AS BIGINT) / 100.0 AS total_value
    FROM s GROUP BY user_id, sid
    """,
    "Streaming sessionization IN the exact gate: F.session_window (30 min "
    "gap) over an availableNow file stream in APPEND mode — append only "
    "emits sessions the watermark has passed, and the watermark never "
    "passes the corpus's own last session, so a far-future SENTINEL "
    "event file (user_id -1, year 2100) is injected to flush every real "
    "session; the sentinel's own open session is filtered out. The "
    "result equals the batch gap-based sessionization the oracle "
    "computes (break at gap >= 30 min, matching session_window's "
    "[ts, ts+gap) merge rule). Session starts projected to "
    "timezone-free epoch micros; value totals in integer cents inside "
    "the stream.",
)
def stream_session_windows(spark, sf_dir):
    import glob as globmod
    import os
    import tempfile
    import uuid

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(batch.dtypes).get("ts", "")
    src_dir = tempfile.mkdtemp(prefix="sessw-src-")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    # sentinel row in the exact source schema: watermark advances past
    # every real session end once this file is processed
    far = (
        F.lit("2100-01-01 00:00:00").cast(ts_dtype)
        if ts_dtype.startswith("timestamp")
        else F.lit(4102444800 * 1_000_000_000)
    )
    sentinel = batch.limit(1).select(
        *[
            far.alias("ts")
            if c == "ts"
            else (F.lit(-1).cast("long").alias("user_id") if c == "user_id" else F.col(c))
            for c in batch.columns
        ]
    )
    sent_dir = tempfile.mkdtemp(prefix="sessw-sent-")
    sentinel.coalesce(1).write.mode("overwrite").parquet(sent_dir)
    part = globmod.glob(f"{sent_dir}/part-*.parquet")[0]
    os.symlink(part, f"{src_dir}/zz-sentinel.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src_dir)
        .select(
            "user_id",
            F.timestamp_micros(ts_micros(ts_dtype)).alias("ts_t"),
            F.round(F.col("value") * 100).cast("long").alias("vc"),
        )
    )
    agg = (
        stream.withWatermark("ts_t", "1 second")
        .groupBy(F.session_window("ts_t", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vc").alias("vc_sum"),
        )
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # The equality with the batch oracle requires the real events to be
    # processed no LATER than the sentinel (else the watermark jumps to
    # 2100 first and every real event is dropped as late). File-source
    # options that could reorder (latestFirst, maxFilesPerTrigger) are
    # not set, so everything lands in ONE data micro-batch — assert that
    # instead of relying on it silently (ADVICE r4).
    data_batches = [
        p for p in q.recentProgress if p["numInputRows"] > 0
    ]
    if len(data_batches) != 1:
        raise RuntimeError(
            "stream_session_windows expects the events file and the "
            f"sentinel in one micro-batch, saw {len(data_batches)}; "
            "the append-mode result would silently drop sessions"
        )
    return (
        spark.table(name)
        .where(F.col("user_id") != -1)
        .select(
            "user_id",
            F.expr("unix_micros(session_window.start)").alias("session_start_us"),
            "n_events",
            (F.col("vc_sum") / 100.0).alias("total_value"),
        )
    )


@register(
    "stream_interval_join",
    """
    WITH v AS (
      SELECT user_id, event_id AS view_id, CAST(epoch_us(ts) AS BIGINT) AS view_us
      FROM events WHERE event_type = 'view'
    ), c AS (
      SELECT user_id, event_id AS click_id, CAST(epoch_us(ts) AS BIGINT) AS click_us
      FROM events WHERE event_type = 'click'
    )
    SELECT v.user_id, v.view_id, c.click_id, v.view_us, c.click_us
    FROM v JOIN c
      ON v.user_id = c.user_id
     AND c.click_us > v.view_us
     AND c.click_us <= v.view_us + 3600000000
    """,
    "Stream-STREAM interval join IN the exact gate: views and clicks "
    "stream from two availableNow file sources, watermarked on both "
    "sides, inner-joined on user with the click inside (view, view+1h] "
    "— the attribution shape whose time bound is what makes streaming "
    "join state finite. Both sides arrive in one micro-batch here, so "
    "no match is ever evicted before its partner arrives and the "
    "result equals the batch interval join the oracle computes. Join "
    "timestamps exposed as timezone-free epoch micros.",
)
def stream_interval_join(spark, sf_dir):
    import os
    import tempfile
    import uuid

    from youtube_trending_data_pipeline_spark.streaming.jobs import (
        interval_join_streams,
    )

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(batch.dtypes).get("ts", "")
    src_dir = tempfile.mkdtemp(prefix="sij-src-")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")

    def side(event_type, id_alias, ts_alias):
        return (
            spark.readStream.schema(batch.schema)
            .parquet(src_dir)
            .where(F.col("event_type") == event_type)
            .select(
                "user_id",
                F.col("event_id").alias(id_alias),
                F.timestamp_micros(ts_micros(ts_dtype)).alias(ts_alias),
            )
        )

    views = side("view", "view_id", "view_ts")
    clicks = side("click", "click_id", "click_ts")
    joined = interval_join_streams(
        views, clicks, key="user_id", left_ts="view_ts",
        right_ts="click_ts", within="1 hour", watermark="2 hours",
    ).select(
        views["user_id"],
        "view_id",
        "click_id",
        F.expr("unix_micros(view_ts)").alias("view_us"),
        F.expr("unix_micros(click_ts)").alias("click_us"),
    )
    name = f"sij_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # equality with the batch oracle relies on both sides arriving in one
    # micro-batch (no watermark eviction between a view and its click) —
    # assert that instead of assuming it, like stream_session_windows
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    if len(data_batches) != 1:
        raise RuntimeError(
            "stream_interval_join expects both sides in one micro-batch, "
            f"saw {len(data_batches)}; matches could have been evicted"
        )
    return spark.table(name)


@register(
    "w_rolling_median",
    """
    WITH e AS (
      SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us,
             CAST(ROUND(value*100) AS BIGINT) AS vc
      FROM events
    )
    SELECT user_id, event_id,
           CAST(quantile_cont(vc, 0.5) OVER (
             PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0 AS rolling_median
    FROM e
    """,
    "Rolling median (trailing-5 robust center) per user: Spark has no "
    "percentile window function, so the frame's values are gathered "
    "with collect_list OVER the rows frame, sorted, and the median "
    "computed positionally — exact, and on integer cents, so the "
    "even-count midpoint average is the only float op and matches "
    "DuckDB's quantile_cont interpolation bit-for-bit. The pattern "
    "generalizes to any exact order statistic over a bounded frame; "
    "frame width bounds the per-row array, so memory stays O(frame) "
    "per row at any scale.",
)
def w_rolling_median(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-4, 0)
    )
    vals = F.sort_array(F.collect_list("vc").over(w))
    n = F.size(vals)
    mid_lo = F.element_at(vals, ((n + 1) / 2).cast("int"))
    mid_hi = F.element_at(vals, (n / 2 + 1).cast("int"))
    median_c = F.when(
        n % 2 == 1, mid_lo.cast("double")
    ).otherwise((mid_lo + mid_hi) / 2.0)
    return ev.select(
        "user_id",
        "event_id",
        (median_c / 100.0).alias("rolling_median"),
    )


@register(
    "stream_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    "Streaming deduplication IN the exact gate: "
    "dropDuplicatesWithinWatermark on (user_id, event_type) over an "
    "availableNow file stream — exactly-once key emission with "
    "watermark-bounded state (the unbounded-stream-safe form of "
    "dropDuplicates). Which physical row survives is batch-order-"
    "dependent, so the entry emits only the KEY columns, whose "
    "surviving set equals SELECT DISTINCT deterministically. The "
    "watermark delay is derived from the corpus's own time span "
    "(max(ts)-min(ts) of the batch read, plus an hour), so no key's "
    "dedup state can expire mid-run and a key is never re-emitted even "
    "if the source splits the files across micro-batches (ADVICE r4); "
    "a production deployment would instead size the delay to the "
    "stream's duplicate-arrival horizon.",
)
def stream_dedup_keys(spark, sf_dir):
    import os
    import tempfile
    import uuid

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(batch.dtypes).get("ts", "")
    src_dir = tempfile.mkdtemp(prefix="sdk-src-")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    # 1-row bound collect: watermark delay > the whole corpus span means
    # dedup state never expires within the run -> exactly SELECT DISTINCT
    span = batch.select(
        ((F.max(ts_micros(ts_dtype)) - F.min(ts_micros(ts_dtype)))
         / 1_000_000).cast("long").alias("s")
    ).first()["s"] or 0
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src_dir)
        .select(
            "user_id",
            "event_type",
            F.timestamp_micros(ts_micros(ts_dtype)).alias("ts_t"),
        )
        .withWatermark("ts_t", f"{span + 3600} seconds")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = f"sdk_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@register(
    "corpus_shuffle_shards",
    """
    WITH h AS (
      SELECT doc_id, source,
             ((doc_id % 2147483648) * 2654435761 + 42) % 4294967296 AS hv
      FROM documents
    )
    SELECT doc_id,
           CAST(hv % 8 AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY hv % 8 ORDER BY hv // 8, doc_id
           ) AS BIGINT) AS pos_in_shard
    FROM h
    """,
    "Deterministic global training-order shuffle: every document gets a "
    "shard (hash mod n_shards) and a position inside its shard (rank by "
    "the remaining hash bits) — a reproducible pseudo-random permutation "
    "with NO RNG, so re-running the pipeline (or re-materializing one "
    "lost shard) yields the identical training order; seed changes give "
    "a fresh permutation. One window per shard = single shuffle, and "
    "shards are written independently — the 100 TB layout is one file "
    "per shard per partition. Knuth multiplicative hash, portable to "
    "the oracle.",
)
def corpus_shuffle_shards(spark, sf_dir):
    from pyspark.sql import Window as W

    n_shards, seed = 8, 42
    hv = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(2654435761)
        + F.lit(seed),
        F.lit(4294967296),
    )
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", hv.alias("hv")
    )
    shard = F.pmod(F.col("hv"), F.lit(n_shards))
    w = W.partitionBy(shard).orderBy(
        F.expr(f"hv div {n_shards}"), "doc_id"
    )
    return docs.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


@register(
    "heavy_hitters_tokens",
    """
    WITH tok AS (
      SELECT unnest(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), counts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok
    ), total AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM counts
    )
    SELECT c.tok, c.cnt
    FROM counts c, total t
    WHERE c.cnt * 64 > t.n
    """,
    "Exact heavy hitters (phi = 1/64 frequent tokens): the deterministic "
    "baseline for the approximate frequent-items sketches — token "
    "explode, one hash-aggregate, and a 1-row total broadcast onto the "
    "threshold filter (constant-append BNLJ). The aggregate output is "
    "|vocabulary|-sized, so the scalar-threshold filter runs on the "
    "already-reduced relation, not the raw corpus — the shape that "
    "survives 100 TB.",
)
def heavy_hitters_tokens(spark, sf_dir):
    tok = t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("tok")
    ).where(F.col("tok") != "")
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * 64 > F.col("n"))
        .select("tok", "cnt")
    )


@register(
    "dq_expectations",
    """
    SELECT 'orders_negative_total' AS rule,
           CAST(COUNT(*) FILTER (WHERE o_totalprice < 0) AS BIGINT)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_null_custkey',
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_orphan_custkey',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'orders_duplicate_orderkey',
           CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
    FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY o_orderkey)
    WHERE n > 1
    UNION ALL
    SELECT 'lineitem_discount_out_of_range',
           CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
                AS BIGINT)
    FROM lineitem
    """,
    "Data-quality expectations suite: one row per rule with its exact "
    "violation count — range check, null check, referential integrity "
    "(broadcast anti-join against the dimension), primary-key "
    "uniqueness (surplus-row count), and a value-domain invariant. The warehouse-gate pattern: run before publishing a "
    "partition, fail the job if any n_violations > 0. Each rule is a "
    "single aggregate or broadcast join; the union is of 1-row frames.",
)
def dq_expectations(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cust = t(spark, sf_dir, "customer")

    def one(rule, df):
        return df.select(
            F.lit(rule).alias("rule"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_violations"),
        )

    neg = orders.agg(
        F.count(F.when(F.col("o_totalprice") < 0, 1)).alias("n")
    )
    nulls = orders.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n")
    )
    orphans = (
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders["o_custkey"] == cust["c_custkey"],
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    dupes = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .where(F.col("k") > 1)
        .agg(F.sum(F.col("k") - 1).alias("n"))
    )
    disc = li.agg(
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
        ).alias("n")
    )
    return (
        one("orders_negative_total", neg)
        .unionAll(one("orders_null_custkey", nulls))
        .unionAll(one("orders_orphan_custkey", orphans))
        .unionAll(one("orders_duplicate_orderkey", dupes))
        .unionAll(one("lineitem_discount_out_of_range", disc))
    )


@register(
    "embedding_quantize_int8",
    """
    WITH ex AS (
      SELECT vec_id,
             CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
             CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx,
             unnest(range(len(embedding))) AS dim,
             unnest(embedding) AS x
      FROM embeddings
    ), qd AS (
      SELECT vec_id, CAST(dim AS INT) AS dim, mn, mx,
             CAST(CASE WHEN mx > mn
                  THEN FLOOR((CAST(x AS DOUBLE) - mn) * CAST(255.0 AS DOUBLE)
                             / (mx - mn) + CAST(0.5 AS DOUBLE))
                  ELSE 0 END AS INT) AS q
      FROM ex
    )
    SELECT vec_id, dim, q,
           mn + (CAST(q AS DOUBLE) * (mx - mn)) / CAST(255.0 AS DOUBLE) AS dq,
           mn, mx
    FROM qd
    """,
    "Int8 scalar quantization of the embedding column — the write-path "
    "of a quantized ANN index (4x smaller than float32). Min/max "
    "normalize per vector, floor(x*255/range + 0.5), emit (vec_id, dim, "
    "q, dequantized) rows. Zero shuffles: array_min/max are JVM "
    "builtins and posexplode is a codegen generator, so the quantized "
    "table inherits the input partitioning — exactly what a downstream "
    "bucketed index build wants at 100 TB. All arithmetic is "
    "float->double widening + IEEE *,/,floor in fixed order: "
    "bit-identical across engines without relying on ROUND half-case "
    "behavior.",
)
def embedding_quantize_int8(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.similarity import (
        quantize_int8,
    )

    return quantize_int8(t(spark, sf_dir, "embeddings"))


@register(
    "embedding_pq_encode",
    """
    WITH comps AS (
      SELECT vec_id, CAST((i - 1) // 16 AS INTEGER) AS sub,
             (i - 1) % 16 AS j,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS q
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
    ), nc AS (
      -- corpus-relative codebook, capped at 256 (8-bit PQ): replays
      -- operators.similarity.pq_codebook_size from COUNT(*)
      SELECT LEAST(256, GREATEST(8, COUNT(*) // 250)) AS ncode
      FROM embeddings
    ), cent AS (
      SELECT vec_id AS centroid_id, sub, j, q
      FROM comps
      WHERE vec_id IN (
        SELECT vec_id FROM (
          SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
          FROM embeddings
        ) r, nc WHERE r.rn <= nc.ncode)
    ), scored AS (
      SELECT c.vec_id, c.sub, ct.centroid_id,
             SUM((c.q - ct.q) * (c.q - ct.q)) AS dist
      FROM comps c JOIN cent ct ON c.sub = ct.sub AND c.j = ct.j
      GROUP BY c.vec_id, c.sub, ct.centroid_id
    ), ranked AS (
      SELECT vec_id, sub, centroid_id, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY dist, centroid_id) AS rn
      FROM scored
    )
    SELECT vec_id, sub, centroid_id AS code, CAST(dist AS BIGINT) AS dist_q
    FROM ranked WHERE rn = 1
    """,
    "Product-quantization encoding (PQ codes, the ANN storage ladder's "
    "last rung after int8 scalar quantization): each 64-dim vector "
    "splits into 4 subspaces of 16 components; per subspace the "
    "codebook is the sub-vectors of the smallest vec_ids — "
    "CORPUS-RELATIVE size LEAST(256, GREATEST(8, n/250)) since round "
    "10 (operators/similarity.pq_codebook_size, oracle-replayed from "
    "COUNT(*); the 256 cap is the 8-bit-PQ doctrine, keeping encode "
    "cost linear) — deterministic auditable pivots, same policy as "
    "sim_ivf_pivot_topk (learned KMeans codebooks are "
    "partition-layout-dependent), "
    "and assignment minimizes EXACT integer squared L2 distance at "
    "1e-4 quantization with smallest-centroid tie-break. Plan (round "
    "10): the salt-group BLAS kernel — vectors hash into "
    "defaultParallelism groups, the codebook replicates once per "
    "group, one exact-integer matmul per subspace per group "
    "(operators/similarity._pq_encode_arrow); vectors shuffle once "
    "and only the 16x-narrower codes frame leaves the kernel. Oracle "
    "replays components exploded to (sub, j, q) integer grids.",
)
def embedding_pq_encode(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.similarity import (
        pq_codebook_size,
        pq_encode,
    )

    emb = t(spark, sf_dir, "embeddings")
    return pq_encode(emb, n_centroids=pq_codebook_size(emb.count()))


def _pagerank_oracle(iterations: int = 5) -> str:
    """Declarative replay of integer PageRank: the fixed iteration count
    is unrolled into chained CTEs (DuckDB's recursive terms cannot
    aggregate), each computing exactly the Spark round's integer
    arithmetic — BIGINT sums and floor divisions are order-independent,
    so an iterative distributed algorithm hash-matches a sequential SQL
    evaluation."""
    scale = 1_000_000_000_000
    base = 15 * scale // 100
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f"""
    r{i} AS MATERIALIZED (
      SELECT n.node,
             CAST({base} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(r.rank // o.outdeg) AS BIGINT) AS s
        FROM edges e
        JOIN r{i-1} r ON r.node = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
    )""")
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000 AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT s AS src, c AS dst FROM pairs
      UNION
      SELECT c AS src, s AS dst FROM pairs
    ),
    outdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes),
    {','.join(steps)}
    SELECT node, rank FROM r{iterations}
    """


@register(
    "graph_pagerank",
    _pagerank_oracle(5),
    "PageRank IN the exact gate: 5 synchronous rounds of integer-unit "
    "PageRank (operators/graph.py) over the supplier<->customer "
    "transaction graph (distinct lineitem x orders pairs, both "
    "directions, customers offset by 1e6 into a shared node id space). "
    "All arithmetic is BIGINT (rank units of 1e12, floor divisions), so "
    "the shuffled iterative computation is bit-identical to the oracle's "
    "unrolled sequential CTE chain — the same exactness doctrine as "
    "integer-cents aggregation, applied to an iterative algorithm. Each "
    "round: one join of the rank vector onto the edge list + one hash "
    "aggregate; lineage cut per round via localCheckpoint.",
)
def graph_pagerank(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.graph import (
        pagerank_integer,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_suppkey").alias("s"),
            (F.col("o_custkey") + 1000000).alias("c"),
        )
        .distinct()
    )
    # no distinct after the union: `pairs` is already distinct and the
    # two directions cannot collide (customer ids are offset by 1e6 into
    # a disjoint range), so the old trailing distinct was a provable
    # no-op costing a full shuffle of the doubled edge list
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).union(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    return pagerank_integer(edges, iterations=5)


def _bm25_oracle(terms: list[str]) -> str:
    tf_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_{t}"
        for t in terms
    )
    df_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in terms
    )
    score = "\n           + ".join(
        f"(((n_docs - df_{t} + 0.5) / (df_{t} + 0.5)) * "
        f"(tf_{t} * CAST(2.2 AS DOUBLE))) / "
        f"(tf_{t} + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) "
        f"+ CAST(0.75 AS DOUBLE) * p.dl / (CAST(sum_dl AS DOUBLE) / n_docs)))"
        for t in terms
    )
    tf_sel = ", ".join(f"p.tf_{t}" for t in terms)
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl,
         {tf_cols}
      FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         {df_cols}
      FROM perdoc
    )
    SELECT p.doc_id, p.dl, {tf_sel},
           {score} AS bm25
    FROM perdoc p, stats
    """


_BM25_TERMS = ["join", "vector", "stream"]


@register(
    "text_bm25_score",
    _bm25_oracle(_BM25_TERMS),
    "BM25 lexical relevance of every document against a fixed term set — "
    "the retrieval-based decontamination / quality-audit primitive. One "
    "explode + ONE per-doc hash aggregate (doc length and all per-term "
    "tfs in the same groupBy: single shuffle), then a 1-row corpus-stats "
    "aggregate broadcast back (constant-append BNLJ). Uses the log-free "
    "RSJ odds idf so every arithmetic step is IEEE +,*,/ and the oracle "
    "hashes bit-identically (measured: ln() differs between engines in "
    "the last ulp for ~8% of idf operands); the standard ln-idf variant "
    "is rank-equivalence-tested in pytest.",
)
def text_bm25_score(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.retrieval import (
        bm25_scores,
    )

    return bm25_scores(
        t(spark, sf_dir, "documents"), _BM25_TERMS, log_idf=False
    )


def _wav_sample(i: int) -> str:
    """SQL expr for signed 16-bit sample i of a doc's synthetic WAV:
    range [-1024, 1023], deterministic from doc_id."""
    return f"(((doc_id * 13 + {i} * 37) % 2048) - 1024)"


def _wav_header_hex() -> str:
    """44-byte RIFF/WAVE header for 4 samples of 16-bit mono PCM at
    1 kHz, as a hex literal (built once in Python, decoded per row by
    the real decode_wav chunk walker)."""
    import struct

    hdr = (
        b"RIFF" + struct.pack("<I", 44) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 1000, 2000, 2, 16)
        + b"data" + struct.pack("<I", 8)
    )
    return hdr.hex()


def _audio_oracle() -> str:
    """Exact replay of the WAV decode path: 4 signed samples derived from
    doc_id; mean_abs/peak normalized by 32768, zero-crossings counted on
    sign flips — if decode_wav mis-walks a chunk or mis-orders bytes, the
    hash check fails."""
    s = [_wav_sample(i) for i in range(4)]
    abs_sum = " + ".join(f"ABS({x})" for x in s)
    peak = ", ".join(f"ABS({x})" for x in s)
    zc = " + ".join(
        f"CASE WHEN ({s[i-1]} < 0) <> ({s[i]} < 0) THEN 1 ELSE 0 END"
        for i in range(1, 4)
    )
    return f"""
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST(52 AS BIGINT) AS n_bytes,
           CAST(1000 AS INT) AS sample_rate,
           CAST(4 AS BIGINT) AS n_samples,
           CAST(4 AS BIGINT) AS duration_ms,
           ({abs_sum}) / (32768.0 * 4) AS mean_abs,
           GREATEST({peak}) / 32768.0 AS peak,
           CAST({zc} AS BIGINT) AS zero_crossings
    FROM documents
    """


@register(
    "multimodal_audio_features",
    _audio_oracle(),
    "Multimodal audio: per-doc synthetic 16-bit mono PCM WAV (real RIFF "
    "bytes, built JVM-side) -> Arrow-batched mapInPandas with a REAL "
    "pure-Python chunk-walking WAV decoder -> sample-derived features "
    "(mean |amplitude|, peak, zero-crossings); oracle recomputes the "
    "expected sample arithmetic exactly",
)
def multimodal_audio_features(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        extract_audio_features,
    )

    # 4 signed int16 samples, little-endian two's complement built from
    # pure column arithmetic: u = (v + 65536) % 65536, lo/hi bytes hexed
    def sample_hex(i: int):
        v = (F.col("doc_id") * 13 + i * 37) % 2048 - 1024
        u = F.pmod(v, F.lit(65536))
        return F.concat(
            F.lpad(F.hex(u % 256), 2, "0"),
            F.lpad(F.hex(F.floor(u / 256).cast("long")), 2, "0"),
        )

    data_hex = F.concat(*[sample_hex(i) for i in range(4)])
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("audio").alias("media_type"),
        F.concat(
            F.unhex(F.lit(_wav_header_hex())), F.unhex(data_hex)
        ).alias("content"),
    )
    return extract_audio_features(media).orderBy("asset_id")


def _y4m_luma(f: int, i: int) -> str:
    """SQL expr for luma byte i of frame f of a doc's synthetic Y4M."""
    return f"((doc_id * 11 + {f} * 29 + {i} * 17) % 256)"


def _video_oracle() -> str:
    """Exact replay of the Y4M frame-sampling path: 2 frames at 10 fps
    sampled every 100 ms -> frame f on display at ts = f*100; luma stats
    from the 4 Y-plane bytes of that frame."""
    per_frame = []
    for f in (0, 1):
        y = [_y4m_luma(f, i) for i in range(4)]
        per_frame.append(
            f"""
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST({f} AS INT) AS frame_idx,
           CAST({f} * 100 AS BIGINT) AS frame_ts_ms,
           ({' + '.join(y)}) / (255.0 * 4) AS mean_y,
           LEAST({', '.join(y)}) / 255.0 AS min_y,
           GREATEST({', '.join(y)}) / 255.0 AS max_y
    FROM documents"""
        )
    return " UNION ALL ".join(per_frame)


@register(
    "multimodal_video_frames",
    _video_oracle(),
    "Multimodal video: per-doc synthetic 2-frame 2x2 YUV4MPEG2 clip "
    "(real Y4M bytes with FRAME markers and 4:2:0 chroma planes, built "
    "JVM-side) -> mapInPandas with a REAL pure-Python Y4M parser -> one "
    "row per sampled timestamp with luma statistics from the actual "
    "frame on display; oracle recomputes the frame arithmetic exactly. "
    "Frame fan-out happens inside the Python worker from one binary "
    "cell — the video bytes are never duplicated per output row.",
)
def multimodal_video_frames(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        extract_video_frame_features,
    )

    frame_parts = []
    for f in (0, 1):
        luma_hex = F.concat(
            *[
                F.lpad(
                    F.hex((F.col("doc_id") * 11 + f * 29 + i * 17) % 256),
                    2,
                    "0",
                )
                for i in range(4)
            ]
        )
        chroma_hex = F.concat(
            F.lpad(F.hex((F.col("doc_id") * 5 + f * 3) % 256), 2, "0"),
            F.lpad(F.hex((F.col("doc_id") * 3 + f * 7) % 256), 2, "0"),
        )
        frame_parts.append(F.encode(F.lit("FRAME\n"), "utf-8"))
        frame_parts.append(F.unhex(F.concat(luma_hex, chroma_hex)))
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("video").alias("media_type"),
        F.concat(
            F.encode(F.lit("YUV4MPEG2 W2 H2 F10:1 Ip A1:1 C420\n"), "utf-8"),
            *frame_parts,
        ).alias("content"),
    )
    return extract_video_frame_features(media, every_ms=100).orderBy(
        "asset_id", "frame_idx"
    )


@register(
    "stream_windowed_counts",
    """
    SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) / 100.0
             AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    "Structured Streaming in the EXACT correctness gate: availableNow "
    "file stream -> watermarked 1h tumbling windows -> memory sink, then "
    "window starts projected to epoch-hour buckets (unix_micros: "
    "timezone-free) and value totals accumulated in integer cents inside "
    "the stream — so the streaming aggregate is bit-identical to the "
    "batch SQL the oracle runs, under any batch split or partitioning. "
    "Tumbling 1h windows are epoch-aligned, hence bucket = "
    "epoch_us // 3.6e9 on both engines.",
)
def stream_windowed_counts(spark, sf_dir):
    import tempfile
    import uuid

    from youtube_trending_data_pipeline_spark.streaming.jobs import (
        windowed_event_counts,
    )

    import os

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(batch.dtypes).get("ts", "")
    # the file stream source requires a directory; expose the single test
    # file through a symlinked temp dir (a real deployment streams a
    # landing directory)
    src_dir = tempfile.mkdtemp(prefix="stream-src-")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src_dir)
        .select(
            F.timestamp_micros(ts_micros(ts_dtype)).alias("ts_t"),
            "event_type",
            # integer cents INSIDE the stream: the windowed sum is then a
            # long sum — exact under any micro-batch split (double
            # summation order would not be)
            F.round(F.col("value") * 100).cast("long").alias("value"),
        )
    )
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours", ts_col="ts_t")
    name = f"wc_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.expr("unix_micros(window_start) div 3600000000").alias("hour_bucket"),
        "event_type",
        "n_events",
        (F.col("total_value") / 100.0).alias("total_value"),
    )


# Late-bind the generated LSH oracle (needs _COS_SQL, defined mid-module).
from youtube_trending_data_pipeline_spark.catalog import QUERIES as _Q
from youtube_trending_data_pipeline_spark.catalog import QuerySpec as _QS

_Q["dedup_embedding_cosine"] = _QS(
    fn=dedup_embedding_cosine,
    oracle=_embedding_lsh_oracle(),
    doc=_Q["dedup_embedding_cosine"].doc,
)


# ---------------------------------------------------------------------------
# Semi-structured: JSON path functions and the Spark 4 VARIANT type (F10
# deepening — the reference round-trips raw JSON bytes, ing:83/144; a
# warehouse replacement must also *query into* JSON columns).
# ---------------------------------------------------------------------------


@register(
    "f_json_funcs",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS k_missing
    FROM events
    """,
    "JSON path extraction three ways: get_json_object (per-path), from_json "
    "to a typed struct (schema-applied once, preferred in hot paths — one "
    "parse feeds any number of field reads), and a missing-path probe "
    "returning NULL not error.",
)
def f_json_funcs(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "p", F.from_json(F.col("props"), "struct<k:bigint>")
    )
    return parsed.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_path"),
        F.col("p.k").alias("k_struct"),
        F.get_json_object("props", "$.missing").cast("long").alias("k_missing"),
    )


@register(
    "f_variant_funcs",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(json(props)) AS min_canonical
    FROM events
    GROUP BY event_type
    """,
    "Spark 4 VARIANT: parse_json once into the binary variant encoding, "
    "variant_get typed extraction feeding a plain hash aggregate, to_json "
    "canonical re-serialization (matches DuckDB json() minification). "
    "VARIANT is the scale path for heterogeneous JSON: parse cost paid "
    "once per row, shredded binary beats per-path string re-parsing.",
)
def f_variant_funcs(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn("v", F.parse_json("props"))
    return ev.groupBy("event_type").agg(
        F.sum(F.variant_get("v", "$.k", "bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
        F.min(F.to_json("v")).alias("min_canonical"),
    )


@register(
    "cdc_latest_per_key",
    """
    SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           event_type, value
    FROM (
        SELECT user_id, event_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    "CDC compaction / SCD-1 upsert shape: latest record per key by "
    "(ts, id) — the argmax-dedup every change-capture pipeline runs before "
    "serving a snapshot. One shuffle on the key; at scale this is the "
    "MERGE-free upsert: union(old snapshot, new batch) -> this -> rewrite.",
)
def cdc_latest_per_key(spark, sf_dir):
    from pyspark.sql import Window as W

    # ts is epoch-nanos long (see catalog.t); order and emit at micro
    # precision to match engines that store TIMESTAMP as micros — the
    # event_id tiebreak keeps the winner deterministic either way.
    # integer `div`, NOT `/`: long/1000 routes through double and rounds
    # the 16th digit at epoch-micros magnitude.
    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    w = W.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts_us", "event_type", "value")
    )


@register(
    "a20_argmax",
    """
    SELECT o_custkey,
           arg_max(o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) * 10000000
                               + o_orderkey) AS best_order,
           arg_min(o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) * 10000000
                               + o_orderkey) AS worst_order
    FROM orders GROUP BY o_custkey
    """,
    "max_by/min_by argmax aggregates (the one-pass form of L3/W1 top-1): "
    "which order was each customer's priciest/cheapest. The ordering value "
    "is cents*1e7+orderkey — unique, so the argmax is deterministic (bare "
    "max_by on a tied value is engine-arbitrary).",
)
def a20_argmax(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    ordv = cents("o_totalprice") * F.lit(10_000_000) + F.col("o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max_by("o_orderkey", ordv).alias("best_order"),
            F.min_by("o_orderkey", ordv).alias("worst_order"),
        )
    )


@register(
    "a21_stats_moments",
    """
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sx,
               CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)
                        * CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sxx,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sy,
               CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)
                        * CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(sx AS DOUBLE) / n / 100.0 AS mean_qty,
           (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
               / (n - 1) / 10000.0 AS var_qty,
           (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
               / (n - 1) / 10000.0 AS cov_qty_price
    FROM m
    """,
    "Moment-based statistics (mean/variance/covariance) from EXACT integer "
    "sums: the double math happens once per group on identical integers in "
    "an identical expression tree, so results are bit-identical across "
    "engines and partitionings — unlike built-in stddev/covar whose "
    "streaming accumulation is merge-order-dependent. Sums stay < 2^63 "
    "here; the 100 TB variant swaps BIGINT moments for DECIMAL(38,0).",
)
def a21_stats_moments(spark, sf_dir):
    q100 = F.round(F.col("l_quantity") * 100).cast("long")
    p100 = F.round(F.col("l_extendedprice") * 100).cast("long")
    m = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q100).alias("sx"),
            F.sum(q100 * q100).alias("sxx"),
            F.sum(p100).alias("sy"),
            F.sum(q100 * p100).alias("sxy"),
        )
    )
    n = F.col("n")
    dx, dxx, dy, dxy = (F.col(c).cast("double") for c in ("sx", "sxx", "sy", "sxy"))
    return m.select(
        "l_returnflag",
        "n",
        (dx / n / 100.0).alias("mean_qty"),
        ((dxx - dx * dx / n) / (n - 1) / 10000.0).alias("var_qty"),
        ((dxy - dx * dy / n) / (n - 1) / 10000.0).alias("cov_qty_price"),
    )


@register(
    "f_bitwise_funcs",
    """
    SELECT l_returnflag,
           CAST(bit_and(l_orderkey) AS BIGINT) AS and_keys,
           CAST(bit_or(l_orderkey) AS BIGINT) AS or_keys,
           CAST(bit_xor(l_orderkey) AS BIGINT) AS xor_keys,
           CAST(SUM(l_orderkey & 255) AS BIGINT) AS sum_low_byte,
           CAST(SUM(l_linenumber << 2) AS BIGINT) AS sum_shifted
    FROM lineitem GROUP BY l_returnflag
    """,
    "Bitwise aggregate (bit_and/bit_or/bit_xor) and scalar (&, <<) "
    "functions — all associative/commutative, hence partitioning-proof.",
)
def f_bitwise_funcs(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.bit_and("l_orderkey").alias("and_keys"),
            F.bit_or("l_orderkey").alias("or_keys"),
            F.bit_xor("l_orderkey").alias("xor_keys"),
            F.sum(F.col("l_orderkey").bitwiseAND(F.lit(255))).alias("sum_low_byte"),
            F.sum(F.shiftleft(F.col("l_linenumber"), 2).cast("long")).alias(
                "sum_shifted"
            ),
        )
    )


@register(
    "w_forward_fill",
    """
    SELECT event_id, user_id,
           last_value(purchase_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS last_purchase_value
    FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
        FROM events
    )
    """,
    "Forward fill (gap filling): carry the last non-null observation "
    "forward per key — last_value(IGNORE NULLS) over an ordered frame. The "
    "time-series imputation primitive; one shuffle on the key, no loops.",
)
def w_forward_fill(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").withColumn(
        "purchase_value",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    )
    # order at micro precision (ts div 1000) to match TIMESTAMP-micros
    # engines exactly; event_id breaks micro-collisions deterministically
    w = (
        W.partitionBy("user_id")
        .orderBy(F.expr("ts div 1000"), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.last("purchase_value", ignorenulls=True).over(w).alias(
            "last_purchase_value"
        ),
    )


@register(
    "resample_daily",
    """
    WITH days AS (
        SELECT UNNEST(generate_series(DATE '2024-01-25', DATE '2024-02-07',
                                      INTERVAL 1 DAY))::DATE AS day
    ), users AS (SELECT DISTINCT user_id FROM events),
    actual AS (
        SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT u.user_id, d.day,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events
    FROM users u CROSS JOIN days d
    LEFT JOIN actual a ON a.user_id = u.user_id AND a.day = d.day
    """,
    "Resampling to a regular grid: date spine (sequence+explode) x keys, "
    "left join actuals, zero-fill gaps — the densification step before any "
    "rolling-window computation on sparse activity. Spine is generated, "
    "never materialized beyond keys x days.",
)
def resample_daily(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import event_day

    ev = t(spark, sf_dir, "events")
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-25").cast("date"),
                F.lit("2024-02-07").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    users = ev.select("user_id").distinct()
    actual = (
        ev.groupBy("user_id", event_day("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        users.crossJoin(F.broadcast(days))
        .join(actual, ["user_id", "day"], "left")
        .select(
            "user_id", "day", F.coalesce(F.col("n"), F.lit(0)).alias("n_events")
        )
    )


@register(
    "a22_histogram",
    """
    SELECT CAST(LEAST((CAST(ROUND(value*100) AS BIGINT) // 1000) + 1, 11) AS INT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS lo_cents,
           CAST(MAX(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS hi_cents
    FROM events GROUP BY 1
    """,
    "Equi-width histogram via width_bucket over exact cents (DuckDB lacks "
    "width_bucket; the oracle mirrors the bucket arithmetic integerly — "
    "boundaries land between representable values so both agree). One "
    "hash aggregate; the fixed bucketing needs no data-dependent pass.",
)
def a22_histogram(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    v100 = cents("value")
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            F.width_bucket(v100, F.lit(0), F.lit(10000), F.lit(10))
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(v100).alias("lo_cents"),
            F.max(v100).alias("hi_cents"),
        )
    )


@register(
    "j6b_asof_forward",
    """
    WITH clicks AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, ts, MAX(event_id) AS purchase_event_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id,
           p.purchase_event_id AS asof_purchase_event_id
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
    "Forward as-of join: NEXT purchase at-or-after each click (conversion "
    "attribution looking ahead). Same union-merge single-shuffle plan as "
    "the backward form (operators/asof.py, direction='forward'); oracle is "
    "DuckDB ASOF with the inequality flipped.",
)
def j6b_asof_forward(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.asof import as_of_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    out = as_of_join(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload_cols=["purchase_event_id"],
        direction="forward",
    )
    return out.select("event_id", "user_id", "asof_purchase_event_id")


@register(
    "j4b_posexplode",
    """
    SELECT l_orderkey,
           CAST(s.ord - 1 AS INT) AS pos,
           s.tok AS token
    FROM (
        SELECT l_orderkey,
               string_split(l_returnflag || '-' || l_linestatus || '-'
                            || CAST(l_linenumber AS VARCHAR), '-') AS toks
        FROM lineitem
    ), UNNEST(list_transform(toks, (x, i) -> struct_pack(tok := x, ord := i)))
         AS u(s)
    """,
    "posexplode (ordinal-preserving explode, J4 variant): token position "
    "survives the flatten — required whenever downstream order matters "
    "(n-gram windows, BPE merges). Oracle: UNNEST of an index-tagged list.",
)
def j4b_posexplode(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.split(
            F.concat_ws(
                "-",
                F.col("l_returnflag"),
                F.col("l_linestatus"),
                F.col("l_linenumber").cast("string"),
            ),
            "-",
        ).alias("toks"),
    )
    return li.select(
        "l_orderkey", F.posexplode("toks").alias("pos", "token")
    )


@register(
    "f_map_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(map_entry_count AS INT) AS n_keys,
           qty_val, missing_val
    FROM (
        SELECT l_orderkey, l_linenumber,
               2 AS map_entry_count,
               CAST(ROUND(l_quantity*100) AS BIGINT) AS qty_val,
               CAST(NULL AS BIGINT) AS missing_val
        FROM lineitem
    )
    """,
    "MapType column operations: build map_from_arrays, read size/element_at "
    "(present and absent keys) — scalar outputs only, since map column "
    "hashing is engine-specific (unordered). Oracle computes the expected "
    "scalars directly.",
)
def f_map_funcs(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    m = F.map_from_arrays(
        F.array(F.lit("qty"), F.lit("line")),
        F.array(
            F.round(F.col("l_quantity") * 100).cast("long"),
            F.col("l_linenumber").cast("long"),
        ),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.size(m).alias("n_keys"),
        F.element_at(m, "qty").alias("qty_val"),
        F.element_at(m, "nope").alias("missing_val"),
    )


@register(
    "f_array_hof",
    """
    SELECT l_orderkey,
           CAST(len(list_filter(arr, x -> x % 2 = 0)) AS INT) AS n_even,
           CAST(list_sum(list_transform(arr, x -> x * x)) AS BIGINT) AS sum_sq,
           CAST(len(list_filter(arr, x -> x > 3)) > 0 AS BOOLEAN) AS any_gt3,
           CAST(len(list_filter(arr, x -> x > 0)) = len(arr) AS BOOLEAN)
             AS all_positive
    FROM (
        SELECT l_orderkey,
               [CAST(l_linenumber AS BIGINT),
                CAST(ROUND(l_quantity) AS BIGINT),
                CAST(l_suppkey % 10 AS BIGINT)] AS arr
        FROM lineitem
    )
    """,
    "Array higher-order functions over a constructed 3-element array: "
    "filter, transform+aggregate (sum of squares), exists, forall. Small "
    "fixed arrays — the regime where interpreted HOFs are fine (PERF.md); "
    "integer folds are order-independent, hence exact cross-engine.",
)
def f_array_hof(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.array(
            F.col("l_linenumber").cast("long"),
            F.round("l_quantity").cast("long"),
            (F.col("l_suppkey") % 10).cast("long"),
        ).alias("arr"),
    )
    a = F.col("arr")
    return li.select(
        "l_orderkey",
        F.size(F.filter(a, lambda x: x % 2 == 0)).alias("n_even"),
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda s, x: s + x
        ).alias("sum_sq"),
        F.exists(a, lambda x: x > 3).alias("any_gt3"),
        F.forall(a, lambda x: x > 0).alias("all_positive"),
    )


@register(
    "a23_collect_set",
    """
    SELECT l_returnflag,
           array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
             AS statuses,
           array_to_string(list_sort(list(DISTINCT l_linenumber)), ',')
             AS line_numbers
    FROM lineitem GROUP BY l_returnflag
    """,
    "Array-valued aggregation: collect_set with sort_array for a "
    "deterministic element order (bare collect_list/set order is "
    "partitioning-dependent — never hash an unsorted collected array). "
    "Output arrays are comma-joined to scalar strings: the driver's "
    "pandas canonicalizer cannot hash list cells (r4 ERR), and the "
    "numeric sort happens BEFORE the string cast so both engines agree "
    "on element order for multi-digit values.",
)
def a23_collect_set(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("l_linestatus")), ","
            ).alias("statuses"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("l_linenumber")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("line_numbers"),
        )
    )


# ---------------------------------------------------------------------------
# Relational completeness batch: unpivot, null-safe join, outer explode,
# try_* arithmetic, exact-sum linear regression
# ---------------------------------------------------------------------------


@register(
    "u3_unpivot",
    """
    WITH agg AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
               AS sum_base_cents,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_base_cents', sum_base_cents FROM agg
    UNION ALL
    SELECT l_returnflag, 'cnt', cnt FROM agg
    """,
    "Wide-to-long unpivot (melt): aggregate per returnflag, then rotate the "
    "three measure columns into (measure, value) rows with df.unpivot — the "
    "inverse of a17_pivot. Spark plans it as a single Expand node (one pass, "
    "no self-union rescan); the oracle spells the equivalent UNION ALL.",
)
def u3_unpivot(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    agg = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents("l_extendedprice")).alias("sum_base_cents"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_base_cents", "cnt"], "measure", "value"
    )


@register(
    "j8_null_safe_join",
    """
    WITH lhs AS (
      SELECT nullif(l_returnflag, 'N') AS flag_key, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1
    ),
    rhs AS (
      SELECT nullif(l_returnflag, 'N') AS flag_key,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
      FROM lineitem GROUP BY 1
    )
    SELECT lhs.flag_key, cnt, qty_sum
    FROM lhs JOIN rhs ON lhs.flag_key IS NOT DISTINCT FROM rhs.flag_key
    """,
    "Null-safe equi-join (<=> / eqNullSafe): both sides key on "
    "nullif(returnflag,'N') so one key is genuinely NULL; a plain = join "
    "would silently drop that row, IS NOT DISTINCT FROM matches it. "
    "Catalyst still plans a hash join (null-safe keys hash like values).",
)
def j8_null_safe_join(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    key = F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_key")
    lhs = li.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    rhs = li.groupBy(key).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty_sum")
    )
    return lhs.join(
        rhs, lhs["flag_key"].eqNullSafe(rhs["flag_key"])
    ).select(lhs["flag_key"], "cnt", "qty_sum")


@register(
    "j4c_explode_outer",
    """
    WITH base AS (
      SELECT DISTINCT l_returnflag AS rf, l_linestatus AS ls FROM lineitem
    ),
    w AS (
      SELECT rf, ls, list_filter([rf], x -> x <> 'A') AS arr FROM base
    )
    SELECT w.rf, w.ls, u.tok
    FROM w LEFT JOIN (SELECT rf, ls, unnest(arr) AS tok FROM w) u
      ON w.rf = u.rf AND w.ls = u.ls
    """,
    "explode_outer: rows whose array is EMPTY survive with a NULL element "
    "(plain explode would drop them — the array analogue of inner vs outer "
    "join). Built over the distinct (returnflag, linestatus) pairs where "
    "filtering 'A' out of [rf] leaves some arrays empty. Oracle emulates "
    "outer-unnest with a LEFT JOIN back onto the unnested rows.",
)
def j4c_explode_outer(spark, sf_dir):
    base = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls"))
        .distinct()
    )
    w = base.withColumn("arr", F.filter(F.array("rf"), lambda x: x != "A"))
    return w.select("rf", "ls", F.explode_outer("arr").alias("tok"))


@register(
    "f_try_arith",
    """
    WITH base AS (
      SELECT DISTINCT l_returnflag AS rf,
             CAST(l_linenumber AS BIGINT) AS ln
      FROM lineitem
    )
    SELECT rf, ln,
           CAST(ln AS DOUBLE) / nullif(ln - ln, 0) AS div_zero,
           CAST(ln AS DOUBLE) / nullif(2, 0)       AS div_ok,
           CAST(NULL AS BIGINT)                    AS add_overflow,
           try_cast(rf AS BIGINT)                  AS to_num_bad,
           try_cast(CAST(ln AS VARCHAR) AS BIGINT) AS to_num_ok,
           ([rf])[5]                               AS elem_missing
    FROM base
    """,
    "ANSI-safe try_* arithmetic: Spark 4 runs ANSI mode, so bare /0 or "
    "BIGINT overflow raise — try_divide/try_add/try_to_number/try_element_at "
    "return NULL instead. add_overflow adds qty>=1 to BIGINT max, always "
    "NULL under try semantics; the oracle spells each as its nullif/"
    "try_cast/out-of-range-subscript equivalent.",
)
def f_try_arith(spark, sf_dir):
    base = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("rf"),
            F.col("l_linenumber").cast("long").alias("ln"),
        )
        .distinct()
    )
    return base.select(
        "rf",
        "ln",
        F.try_divide(F.col("ln").cast("double"), F.col("ln") - F.col("ln")).alias(
            "div_zero"
        ),
        F.try_divide(F.col("ln").cast("double"), F.lit(2)).alias("div_ok"),
        F.try_add(F.lit(9223372036854775807), F.col("ln")).alias("add_overflow"),
        F.try_to_number(F.col("rf"), F.lit("999")).cast("long").alias("to_num_bad"),
        F.try_to_number(F.col("ln").cast("string"), F.lit("999"))
        .cast("long")
        .alias("to_num_ok"),
        F.try_element_at(F.array("rf"), F.lit(5)).alias("elem_missing"),
    )


@register(
    "a24_regr_fit",
    """
    WITH s AS (
      SELECT o_orderstatus,
             COUNT(*) AS n,
             SUM(x)     AS sx,  SUM(y)     AS sy,
             SUM(x*y)   AS sxy, SUM(x*x)   AS sxx, SUM(y*y) AS syy
      FROM (
        SELECT o_orderstatus,
               CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS x,
               CAST(ROUND(o_totalprice*100) AS BIGINT) AS y
        FROM orders
      )
      GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n,
           num / den AS slope,
           (CAST(sy AS DOUBLE) - (num / den) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept,
           (num * num) / (den * den_y) AS r2
    FROM (
      SELECT *,
             -- HUGEINT->DOUBLE casts truncate above 2^63 in DuckDB (not
             -- correctly rounded); VARCHAR->DOUBLE parses exactly and
             -- matches Spark's decimal(38)->double rounding bit-for-bit.
             CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE) AS num,
             CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE) AS den,
             CAST(CAST(n*syy - sy*sy AS VARCHAR) AS DOUBLE) AS den_y
      FROM s
    )
    """,
    "Per-group OLS fit (regr_slope/intercept/r2 semantics) computed from "
    "EXACT integer moment sums — decimal(38,0) in Spark, HUGEINT in DuckDB "
    "— converted to double only for the final closed-form arithmetic, which "
    "both engines evaluate in the same expression order, so the fit is "
    "bit-deterministic. The built-in streaming regr_* aggregates are "
    "merge-order-dependent in their low bits and would fail an exact gate; "
    "x = days since 1995-01-01, y = order total in cents.",
)
def a24_regr_fit(spark, sf_dir):
    d38 = "decimal(38,0)"
    o = t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    s = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("y").cast(d38) * F.col("y").cast(d38))).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den
    return s.select(
        "o_orderstatus",
        "n",
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept"),
        ((num * num) / (den * den_y)).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Graph / recursion batch: connected-components dedup clustering, recursive
# CTE date spine
# ---------------------------------------------------------------------------


@register(
    "dedup_components",
    _CC_ORACLE := """
    WITH RECURSIVE grams AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(1, GREATEST(length(text) - 2, 0) + 1),
                           i -> substr(text, CAST(i AS INT), 3))) AS g
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM grams a JOIN grams b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0
                 THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.g, b.g)))
                 ELSE 0.0 END >= 0.6
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, root) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node, MIN(root) AS component FROM reach GROUP BY node
    """,
    "Dedup clustering: near-dup candidate pairs (char-3-gram Jaccard >= 0.6 "
    "within source blocks) closed into components — if A~B and B~C then "
    "{A,B,C} is ONE cluster though (A,C) was never scored. Spark side is "
    "iterative min-label propagation (operators/components.py, one shuffle "
    "per round, converges in diameter rounds); the oracle is DuckDB's "
    "recursive-CTE transitive closure — an iterative DataFrame algorithm "
    "checked exactly against declarative recursion.",
)
def dedup_components(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.components import (
        connected_components,
    )

    pairs = dd.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", ["source"], n=3
    ).where(F.col("jaccard") >= 0.6)
    return connected_components(pairs, src="id_a", dst="id_b")


@register(
    "dedup_components_star",
    _CC_ORACLE,
    "Dedup clustering via alternating large-star/small-star (Kiveris et "
    "al.) — the O(log n)-round MapReduce-and-beyond algorithm for "
    "long-chain graphs where min-label propagation needs diameter rounds "
    "(operators/components.py:connected_components_star; log-round "
    "convergence asserted on a 64-chain in tests). Same recursive-CTE "
    "oracle as dedup_components: two independent iterative algorithms "
    "checked against declarative recursion and each other.",
)
def dedup_components_star(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.components import (
        connected_components_star,
    )

    pairs = dd.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", ["source"], n=3
    ).where(F.col("jaccard") >= 0.6)
    return connected_components_star(pairs, src="id_a", dst="id_b")


@register(
    "dedup_keep_best",
    """
    WITH RECURSIVE grams AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(1, GREATEST(length(text) - 2, 0) + 1),
                           i -> substr(text, CAST(i AS INT), 3))) AS g
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM grams a JOIN grams b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0
                 THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.g, b.g)))
                 ELSE 0.0 END >= 0.6
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, root) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node)
    SELECT CAST(component AS BIGINT) AS component,
           CAST(keeper_id AS BIGINT) AS keeper_id,
           CAST(n_members AS BIGINT) AS n_members
    FROM (
      SELECT component,
             FIRST(doc_id ORDER BY n_chars DESC, doc_id ASC) AS keeper_id,
             COUNT(*) AS n_members
      FROM (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
      ) GROUP BY component
    )
    """,
    "Quality-aware dedup: near-dup clusters (transitive closure of "
    "char-3-gram Jaccard >= 0.6 pairs) keep the HIGHEST-QUALITY member "
    "(max n_chars, doc_id tiebreak) rather than min-id — the realistic "
    "training-corpus policy. Singleton docs are their own keepers. One "
    "window over the component key after the CC rounds.",
)
def dedup_keep_best(spark, sf_dir):
    from pyspark.sql import Window

    from youtube_trending_data_pipeline_spark.operators.components import (
        connected_components,
    )

    docs = t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", "text", ["source"], n=3).where(
        F.col("jaccard") >= 0.6
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    full = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_chars"
    ).join(comp, F.col("doc_id") == F.col("node"), "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
        "n_chars",
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        full.withColumn("_rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.min(F.when(F.col("_rn") == 1, F.col("doc_id"))).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            F.col("component").cast("long").alias("component"),
            F.col("keeper_id").cast("long").alias("keeper_id"),
            "n_members",
        )
    )


def _components_lsh_oracle() -> str:
    """Recursive-CTE closure over the REGISTERED dedup_minhash_lsh
    pipeline's pairs (the composition doctrine: the clustering can never
    drift from what the candidate entry computes)."""
    lsh = _minhash_oracle()
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({lsh})
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, root) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node, MIN(root) AS component FROM reach GROUP BY node
    """


@register(
    "dedup_components_lsh",
    _components_lsh_oracle(),
    "PRODUCTION form of dedup_components (round-11 100x hunt finding): "
    "the exact char-3-gram entry builds candidate pairs with the "
    "within-source quadratic guard, which fires BY DESIGN once a source "
    "block passes max_block_rows (measured: 25 k-row blocks at the 100x "
    "replica) — the operator docstring's prescription for that regime "
    "is the MinHash-LSH candidate path, whose volume is bounded by "
    "band-bucket size, not block size. This entry is that path: the "
    "REGISTERED dedup_minhash_lsh pipeline's near-dup pairs (64-perm / "
    "16-band token-3-shingle signatures, estimated Jaccard >= 0.5) "
    "closed into components by alternating large-star/small-star rounds "
    "(Kiveris et al.) — the CCNet-style production dedup clustering. "
    "Oracle composes the full LSH replay into a recursive-CTE closure, "
    "so the clustering can never drift from the candidate entry. The "
    "star closure converges in O(log n) rounds regardless of component "
    "diameter and RAISES if it doesn't — boilerplate chains at replica "
    "scale can exceed any fixed diameter budget, so the production path "
    "must not depend on one (round-12 ADVICE fix; min-label propagation "
    "now also raises on non-convergence instead of returning silently "
    "wrong labels). At 100 TB every stage is the already-measured LSH "
    "pipeline (banded equi-joins, never all-pairs) plus ~log2(n) "
    "star rounds of (long,long) edge aggregates.",
)
def dedup_components_lsh(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import QUERIES
    from youtube_trending_data_pipeline_spark.operators.components import (
        connected_components_star,
    )

    pairs = (
        QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir).select("id_a", "id_b")
    )
    return connected_components_star(pairs, src="id_a", dst="id_b")


@register(
    "sim_range_search",
    f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS_SQL.format(a="q.embedding", b="c.embedding")} AS cos
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 5 AND c.vec_id >= 5
      AND {_COS_SQL.format(a="q.embedding", b="c.embedding")} >= 0.15
    """,
    "Cosine range search (radius query): every corpus neighbor above a "
    "similarity threshold per query — the dedup/retrieval complement of "
    "top-k. Broadcast query side, partition-parallel corpus scan, "
    "no global sort at all (threshold filter instead of rank).",
)
def sim_range_search(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.functions.vectors import (
        cosine_similarity,
    )

    emb = t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    c = emb.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vec")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("query_vec", "vec").alias("cos"),
        )
        .where(F.col("cos") >= 0.15)
    )


@register(
    "r1_recursive_spine",
    """
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < DATE '2001-08-01'
    )
    SELECT m AS month_start, COALESCE(cnt, 0) AS order_cnt
    FROM months
    LEFT JOIN (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
             COUNT(*) AS cnt
      FROM orders GROUP BY 1
    ) o ON o.mo = months.m
    """,
    "Recursive CTE (Spark 4.1 WITH RECURSIVE): generate an 80-month "
    "calendar spine by recursion, then left-join monthly order counts so "
    "empty months surface as explicit zeros — same recursive SQL shape on "
    "both engines (dialect-adjusted date arithmetic). Complements the "
    "sequence()-based resample_daily with the self-referential form.",
)
def r1_recursive_spine(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT add_months(m, 1) FROM months
          WHERE m < DATE '2001-08-01'
        )
        SELECT m AS month_start, COALESCE(cnt, CAST(0 AS BIGINT)) AS order_cnt
        FROM months
        LEFT JOIN (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
                 COUNT(*) AS cnt
          FROM orders GROUP BY 1
        ) o ON o.mo = months.m
        """
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: splits, chunking, packing, outlier clipping
# ---------------------------------------------------------------------------


@register(
    "sample_hash_split",
    """
    SELECT doc_id,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
           CASE
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7','8','9','a','b')
               THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d')
               THEN 'valid'
             ELSE 'test'
           END AS split
    FROM documents
    """,
    "Deterministic train/valid/test split by content-independent key hash "
    "(md5 of the id -> first hex nibble: 12/2/2 buckets = 75/12.5/12.5%). "
    "Unlike randomSplit, the assignment is a pure projection — stable "
    "across reruns, partitionings, and engines, embarrassingly parallel, "
    "and joinable (any derived table splits identically). This is the "
    "standard leakage-proof split for 100 TB corpora: no shuffle, no "
    "global state, no seed coordination across executors.",
)
def sample_hash_split(spark, sf_dir):
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            bucket.alias("bucket"),
            F.when(
                bucket.isin(*"0123456789ab"), F.lit("train")
            )
            .when(bucket.isin("c", "d"), F.lit("valid"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


@register(
    "doc_chunk_overlap",
    """
    SELECT doc_id,
           CAST(start AS INT) AS chunk_start,
           substr(text, CAST(start AS INT) + 1, 200) AS chunk
    FROM (SELECT doc_id, text, unnest(range(0, n_chars, 150)) AS start
          FROM documents WHERE n_chars > 0) exploded
    """,
    "Document chunking with overlap (context-window prep): each doc emits "
    "ceil(n_chars/150) chunks of <=200 chars starting every 150 chars "
    "(50-char overlap). Spark side is explode(sequence(0, n-1, 150)) + "
    "substring — a generator expression, no shuffle, output partitioned "
    "like the input; DuckDB mirrors it with a correlated generate_series. "
    "At corpus scale this is the map-only fan-out stage before tokenize/"
    "pack; chunk boundaries depend only on (doc, offset) so re-runs are "
    "idempotent.",
)
def doc_chunk_overlap(spark, sf_dir):
    return (
        t(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), (F.col("n_chars") - 1).cast("int"), F.lit(150))
            ).alias("chunk_start"),
            "text",
        )
        .select(
            "doc_id",
            "chunk_start",
            F.substring(F.col("text"), F.col("chunk_start") + 1, 200).alias("chunk"),
        )
    )


@register(
    "pack_sequences_linear",
    """
    WITH toks AS (
      SELECT doc_id, source, n_chars // 4 AS n_tokens FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
             AS BIGINT) AS pack_id
    FROM toks
    """,
    "Sequence packing (linear variant): assign docs to fixed 512-token "
    "training packs by prefix-sum of token counts within each source "
    "shard, ordered by doc_id (pack = prior_tokens div 512; a doc may "
    "straddle its pack boundary, which the downstream concat-and-split "
    "tokenizer handles — this is the deterministic one-pass assignment "
    "used instead of greedy bin-packing, whose reset-on-overflow needs "
    "sequential state). One window shuffle per shard key; token counts "
    "are the n_chars/4 proxy (integer-exact on both engines).",
)
def pack_sequences_linear(spark, sf_dir):
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr("n_chars div 4").alias("n_tokens")
    )
    return (
        toks.withColumn("prior_toks", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr("prior_toks div 512").alias("pack_id"),
        )
    )


@register(
    "winsorize_doc_lengths",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ), cuts AS (
      SELECT source,
             MAX(CASE WHEN rn = (5*n + 99) // 100 THEN n_chars END) AS lo,
             MAX(CASE WHEN rn = (95*n + 99) // 100 THEN n_chars END) AS hi
      FROM ranked GROUP BY source
    )
    SELECT r.doc_id, r.source, r.n_chars,
           LEAST(GREATEST(r.n_chars, c.lo), c.hi) AS clipped
    FROM ranked r JOIN cuts c ON r.source = c.source
    """,
    "Per-group winsorization at exact p05/p95: the percentile is the "
    "ceil(q*n)-th order statistic computed by row_number (integer "
    "arithmetic (q*100*n+99) div 100 — no float interpolation, so the cut "
    "value is a real data point and bit-equal on both engines; ties broken "
    "by doc_id). Outlier clipping before length-bucketed batching is a "
    "standard corpus-prep step; the rank window shuffles once per group "
    "key and the tiny cuts table broadcasts back.",
)
def winsorize_doc_lengths(spark, sf_dir):
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    cuts = ranked.groupBy("source").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(5*n + 99) div 100"), F.col("n_chars"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.expr("(95*n + 99) div 100"), F.col("n_chars"))
        ).alias("hi"),
    )
    return (
        ranked.join(F.broadcast(cuts), "source")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.least(F.greatest(F.col("n_chars"), F.col("lo")), F.col("hi")).alias(
                "clipped"
            ),
        )
    )


@register(
    "scd2_build",
    """
    SELECT user_id, event_id, event_type, value,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           LEAD(CAST(epoch_us(ts) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS valid_to_us,
           CASE WHEN LEAD(ts) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
    "SCD Type 2 dimension build: turn a change stream into versioned "
    "rows with [valid_from, valid_to) intervals and a current flag — the "
    "complement of cdc_latest_per_key's SCD-1 compaction. One LEAD window "
    "per key (single shuffle on user_id); the interval column pair is "
    "what every as-of join against history consumes. Timestamps compared "
    "at micro precision (events.ts is nanos parquet; see catalog.t), "
    "event_id tiebreak makes version order total.",
)
def scd2_build(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    nxt = F.lead("ts_us").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.col("ts_us").alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


@register(
    "inverted_index",
    """
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS tf_total,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
          FROM documents)
    WHERE token <> ''
    GROUP BY token
    """,
    "Inverted-index construction: token -> sorted posting list of doc ids "
    "plus term/document frequencies — the search-index build step over a "
    "corpus. Explode + one hash aggregate; postings are collect_set + "
    "sort_array so the array value is deterministic regardless of "
    "partition merge order. At 100 TB the same plan holds with the group "
    "exchange hash-partitioned on token (skewed stopword tokens are the "
    "known hot keys — cap or salt them in production; the aggregate "
    "itself is associative so partial aggregation already absorbs most "
    "of the skew map-side).",
)
def inverted_index(spark, sf_dir):
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf_total"),
            F.countDistinct("doc_id").alias("df"),
            # numeric sort BEFORE string cast, then comma-join: the driver's
            # pandas hasher cannot hash list cells (r4 ERR), and sorting the
            # ids as longs keeps both engines' element order identical
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )


@register(
    "contamination_check",
    """
    WITH docs AS (
      SELECT doc_id, lower(text) AS lt,
             CASE
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                    IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                 THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d')
                 THEN 'valid'
               ELSE 'test'
             END AS split
      FROM documents
    ), s AS (
      SELECT doc_id, split,
             md5(array_to_string(toks[k+1:k+8], ' ')) AS h
      FROM (SELECT doc_id, split, string_split(lt, ' ') AS toks FROM docs),
           LATERAL (SELECT unnest(range(0, greatest(len(toks)-7, 0))) AS k)
    ), train_h AS (SELECT DISTINCT h FROM s WHERE split = 'train')
    SELECT te.doc_id,
           CAST(COUNT(DISTINCT te.h) AS BIGINT) AS contaminated_shingles
    FROM s te JOIN train_h USING (h)
    WHERE te.split = 'test'
    GROUP BY te.doc_id
    """,
    "Train/test contamination check: word-8-gram shingle hashes of every "
    "test doc joined against the distinct shingle set of the train split "
    "(split = the same leakage-proof md5 hash split as sample_hash_split) "
    "— the standard eval-integrity scan run before training. Shingling "
    "is a map-only explode; the train fingerprint set is built by one "
    "distinct aggregate and the probe is a hash join on the 128-bit "
    "hash. At corpus scale the train side is far too big to broadcast — "
    "the shuffle hash join on h partitions both sides evenly because "
    "md5 output is uniform (no skew by construction).",
)
def contamination_check(spark, sf_dir):
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.lower("text"), " ").alias("toks"),
        F.when(bucket.isin(*"0123456789ab"), F.lit("train"))
        .when(bucket.isin("c", "d"), F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    shingles = (
        docs.where(F.size("toks") >= 8)
        .select(
            "doc_id",
            "split",
            F.explode(F.sequence(F.lit(0), F.size("toks") - 8)).alias("k"),
            "toks",
        )
        .select(
            "doc_id",
            "split",
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("k") + 1, 8))).alias("h"),
        )
    )
    train_h = shingles.where(F.col("split") == "train").select("h").distinct()
    return (
        shingles.where(F.col("split") == "test")
        .join(train_h, "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("contaminated_shingles"))
    )


@register(
    "activity_islands",
    """
    WITH hrs AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h
      FROM events
    ), r AS (
      SELECT user_id, h,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY h) AS rn
      FROM hrs
    )
    SELECT user_id,
           MIN(h) AS island_start_h,
           MAX(h) AS island_end_h,
           CAST(COUNT(*) AS BIGINT) AS n_active_hours
    FROM r GROUP BY user_id, h - rn
    """,
    "Gaps-and-islands: collapse each user's active hours into maximal "
    "runs of consecutive activity (island = group of hours where "
    "hour_index - row_number is constant — the classic islands trick, "
    "no self-join, no iteration). Distinct + one ranking window + one "
    "aggregate, all partitioned by user_id, so the whole thing is a "
    "single shuffle on the user key at any scale. Hour index is integer "
    "nanos div, bit-equal to the oracle's epoch_us div.",
)
def activity_islands(spark, sf_dir):
    from pyspark.sql import Window as W

    hrs = (
        t(spark, sf_dir, "events")
        .select("user_id", F.expr("ts div 3600000000000").alias("h"))
        .distinct()
    )
    r = hrs.withColumn(
        "rn", F.row_number().over(W.partitionBy("user_id").orderBy("h"))
    )
    return (
        r.groupBy("user_id", (F.col("h") - F.col("rn")).alias("grp"))
        .agg(
            F.min("h").alias("island_start_h"),
            F.max("h").alias("island_end_h"),
            F.count(F.lit(1)).alias("n_active_hours"),
        )
        .select("user_id", "island_start_h", "island_end_h", "n_active_hours")
    )


@register(
    "profile_table",
    """
    SELECT col,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(v) AS BIGINT) AS n_non_null,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
           MIN(v) AS min_v, MAX(v) AS max_v
    FROM (
      SELECT 'l_orderkey' AS col, l_orderkey AS v FROM lineitem
      UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
      UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
      UNION ALL SELECT 'l_linenumber', l_linenumber FROM lineitem
      UNION ALL SELECT 'l_quantity', CAST(l_quantity AS BIGINT) FROM lineitem
    ) GROUP BY col
    """,
    "ANALYZE-style column profiling (null counts, exact NDV, min/max per "
    "column) in ONE pass: unpivot the 5 key columns to (col, value) rows "
    "via stack, then a single hash aggregate grouped by column name — "
    "one distinct-agg per group instead of 5 separate scans or a 5-way "
    "count-distinct expand of the whole table. Spark plans the stack as "
    "a generator (no shuffle) and the aggregate as partial+final on the "
    "5-key exchange. At 100 TB swap countDistinct for "
    "approx_count_distinct and keep the identical plan shape; exact NDV "
    "here because the oracle gate demands bit-equality.",
)
def profile_table(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    stacked = li.select(
        F.expr(
            "stack(5, "
            "'l_orderkey', l_orderkey, "
            "'l_partkey', l_partkey, "
            "'l_suppkey', l_suppkey, "
            "'l_linenumber', CAST(l_linenumber AS BIGINT), "
            "'l_quantity', CAST(l_quantity AS BIGINT)"
            ") AS (col, v)"
        )
    )
    return stacked.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_non_null"),
        F.countDistinct("v").alias("ndv"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@register(
    "snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0
                  THEN CAST(ROUND(o_totalprice*100) AS BIGINT) + 1000
                  ELSE CAST(ROUND(o_totalprice*100) AS BIGINT) END AS price_c
      FROM orders WHERE o_orderkey % 7 <> 0
    ), new AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c
      FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           old.price_c AS old_price_c,
           new.price_c AS new_price_c
    FROM old FULL JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.price_c <> new.price_c
    """,
    "Snapshot reconciliation / table diff: full-outer join two versions "
    "of a table on the key and classify every row as added / removed / "
    "changed — the regression check run between pipeline versions and "
    "the core of anti-entropy repair. (Versions are derived "
    "deterministically from orders by modular filters + a planted price "
    "drift so the query is self-contained.) The join is key-partitioned "
    "sort-merge at scale — both sides shuffle once on the key; prices "
    "compared in integer cents so 'changed' is bit-defined.",
)
def snapshot_diff(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    price_c = F.round(F.col("o_totalprice") * 100).cast("long")
    old = (
        orders.where(F.col("o_orderkey") % 7 != 0)
        .select(
            F.col("o_orderkey").alias("old_key"),
            F.when(F.col("o_orderkey") % 3 == 0, price_c + 1000)
            .otherwise(price_c)
            .alias("old_price_c"),
        )
    )
    new = (
        orders.where(F.col("o_orderkey") % 5 != 0)
        .select(
            F.col("o_orderkey").alias("new_key"),
            price_c.alias("new_price_c"),
        )
    )
    j = old.join(new, old.old_key == new.new_key, "full")
    return (
        j.where(
            F.col("old_key").isNull()
            | F.col("new_key").isNull()
            | (F.col("old_price_c") != F.col("new_price_c"))
        )
        .select(
            F.coalesce("old_key", "new_key").alias("o_orderkey"),
            F.when(F.col("old_key").isNull(), F.lit("added"))
            .when(F.col("new_key").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("status"),
            "old_price_c",
            "new_price_c",
        )
    )


@register(
    "hopping_window_counts",
    """
    SELECT w_start_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
    FROM (
      SELECT event_type, value,
             (epoch_us(ts) // 300000000 - k) * 300000000 AS w_start_us
      FROM events,
           LATERAL (SELECT unnest(range(0, 3)) AS k)
      WHERE (epoch_us(ts) // 300000000 - k) * 300000000
            + 900000000 > epoch_us(ts)
    ) GROUP BY w_start_us, event_type
    """,
    "Hopping (sliding) event-time windows in batch: 15-minute windows "
    "every 5 minutes — each event lands in exactly 3 overlapping windows. "
    "Spark expresses this natively with F.window(ts, '15 minutes', "
    "'5 minutes'), which the planner expands to the same 3-way generator "
    "before one hash aggregate (identical to the streaming operator's "
    "state layout, so the batch and readStream plans agree). The oracle "
    "mirrors the expansion arithmetic explicitly. Window starts emitted "
    "as epoch micros (integer) and value summed in cents, so the hash is "
    "exact; at scale this is explode(x3) then partial+final agg on the "
    "(window, type) key — no shuffle amplification beyond the 3x row fan-out.",
)
def hopping_window_counts(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        F.timestamp_micros(F.expr("ts div 1000")).alias("ts_ts"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    return (
        ev.groupBy(
            F.window("ts_ts", "15 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_c").alias("sum_value_c"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "event_type",
            "n",
            "sum_value_c",
        )
    )


@register(
    "dedup_incremental",
    """
    WITH history AS (
      SELECT DISTINCT md5(substr(lower(text), 1, 64)) AS fp
      FROM documents WHERE doc_id % 4 <> 0
    ), batch AS (
      SELECT doc_id, md5(substr(lower(text), 1, 64)) AS fp
      FROM documents WHERE doc_id % 4 = 0
    )
    SELECT b.doc_id, b.fp
    FROM batch b LEFT JOIN history h ON b.fp = h.fp
    WHERE h.fp IS NULL
    """,
    "Incremental dedup against a historical fingerprint store: the "
    "new-batch documents (doc_id % 4 = 0 stands in for today's arrivals) "
    "are anti-joined on content fingerprint against the fingerprints of "
    "everything already ingested — the cross-batch half of dedup that "
    "dedup_exact's within-batch groupBy cannot see, and the step every "
    "daily corpus pipeline runs before appending. Anti-join on the "
    "uniform 128-bit hash shuffles both sides evenly; at 100 TB the "
    "history side stays a compact fingerprint-only table (one narrow "
    "column), never the full corpus.",
)
def dedup_incremental(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # 64-char-prefix head fingerprint (coarser than the full-content
    # fingerprint) so cross-batch collisions exist in the synthetic
    # corpus and the anti-join's elimination path is actually exercised
    # (full-content md5 finds zero cross-batch dupes here = vacuous).
    fp = F.md5(F.substring(F.lower("text"), 1, 64))
    history = (
        docs.where(F.col("doc_id") % 4 != 0).select(fp.alias("fp")).distinct()
    )
    batch = docs.where(F.col("doc_id") % 4 == 0).select("doc_id", fp.alias("fp"))
    return batch.join(history, "fp", "left_anti").select("doc_id", "fp")


@register(
    "text_redact_pii",
    """
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-010' || CAST(doc_id % 10 AS VARCHAR)
                  || ' now' AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\-\\s]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
           CAST(length(raw) - length(
             regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '', 'g'))
             AS BIGINT) AS email_chars_removed
    FROM enriched
    """,
    "PII redaction (corpus safety scrub): regexp-replace e-mail addresses "
    "and phone numbers with placeholder tokens, plus a removed-chars "
    "audit count. The PII is injected deterministically per row first "
    "(the synthetic corpus contains none) so every row exercises both "
    "patterns and the engines' regexp dialects are proven equivalent on "
    "the character classes/quantifiers involved. Pure map-side projection "
    "— no shuffle, codegen-friendly, linear at any corpus size.",
)
def text_redact_pii(spark, sf_dir):
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-010"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(" now"),
    )
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    phone_re = "\\+?[0-9][0-9()\\-\\s]{6,}[0-9]"
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", raw.alias("raw"))
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("raw", email_re, "<EMAIL>"),
                phone_re,
                "<PHONE>",
            ).alias("redacted"),
            (
                F.length("raw")
                - F.length(F.regexp_replace("raw", email_re, ""))
            ).cast("long").alias("email_chars_removed"),
        )
    )


@register(
    "text_repetition_score",
    """
    WITH tri AS (
      SELECT doc_id, md5(array_to_string(toks[k+1:k+3], ' ')) AS h
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents),
           LATERAL (SELECT unnest(range(0, greatest(len(toks)-2, 0))) AS k)
    ), cnt AS (
      SELECT doc_id, h, COUNT(*) AS c FROM tri GROUP BY doc_id, h
    )
    SELECT doc_id,
           CAST(MAX(c) AS BIGINT) AS max_trigram_count,
           CAST(SUM(c) AS BIGINT) AS n_trigrams
    FROM cnt GROUP BY doc_id
    """,
    "Repetition score (quality signal): the most-frequent word trigram's "
    "count vs the doc's total trigrams — high ratios flag boilerplate / "
    "degenerate repetition, one of the standard corpus-quality filters "
    "for LLM training data. Trigram explode is a generator (3x fan-out), "
    "then two hash aggregates both keyed by doc_id, so after the first "
    "shuffle the second is exchange-free (same partitioning). Counts "
    "stay integers; the caller divides for the ratio.",
)
def text_repetition_score(spark, sf_dir):
    toks = F.split(F.lower("text"), " ")
    tri = (
        t(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("toks") - 3)).alias("k"),
            "toks",
        )
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("k") + 1, 3))).alias("h"),
        )
    )
    cnt = tri.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.max("c").alias("max_trigram_count"),
        F.sum("c").alias("n_trigrams"),
    )


@register(
    "corpus_mix_resample",
    """
    WITH w AS (
      SELECT source, COUNT(*) AS n_s,
             CAST(substr(source, 4) AS BIGINT) + 1 AS w_s
      FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n_s) AS n_total, SUM(w_s) AS sum_w FROM w
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN w USING (source), tot
    WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296 * n_s * sum_w
          < w_s * n_total * 4294967296
    """,
    "Corpus mixing / resampling to a target source distribution (the "
    "pretraining data-mix step): each source s gets target weight w_s "
    "(derived from its name here; a config table in production), and "
    "every doc is kept iff a uniform 32-bit key hash falls below that "
    "source's acceptance rate p_s * N / n_s — cross-multiplied into one "
    "integer inequality so the decision is exact and engine-independent. "
    "The key hash is Knuth multiplicative ((doc_id mod 2^31) * 2654435761 "
    "mod 2^32 — the pre-reduction keeps the product inside int64 for ANY "
    "id, since DuckDB BIGINT raises on overflow where Spark wraps): "
    "deterministic, seedless, joinable — the same doc is kept in every "
    "rerun. Plan: tiny per-source stats aggregate broadcasts back onto a "
    "map-side filter; no shuffle of the corpus itself. (Cross-factors "
    "stay < 2^63 while n_s * sum_w * 2^32 does — swap to the fraction "
    "compare at double precision if weights grow unbounded.)",
)
def corpus_mix_resample(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    w = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s")).withColumn(
        "w_s", F.substring("source", 4, 10).cast("long") + 1
    )
    tot = w.agg(
        F.sum("n_s").alias("n_total"), F.sum("w_s").alias("sum_w")
    )
    h = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    )
    return (
        docs.join(F.broadcast(w), "source")
        .crossJoin(F.broadcast(tot))
        .where(
            h * F.col("n_s") * F.col("sum_w")
            < F.col("w_s") * F.col("n_total") * F.lit(4294967296)
        )
        .select("doc_id", "source")
    )


@register(
    "a25_equidepth_histogram",
    """
    WITH b AS (
      SELECT n_chars,
             NTILE(10) OVER (ORDER BY n_chars, doc_id) AS bucket
      FROM documents
    )
    SELECT bucket,
           CAST(MIN(n_chars) AS BIGINT) AS lo,
           CAST(MAX(n_chars) AS BIGINT) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY bucket
    """,
    "Equi-depth histogram (complement of a22_histogram's equi-width "
    "buckets): NTILE(10) splits the ordered value set into equal-count "
    "buckets whose [lo, hi] boundaries are the decile cut points — the "
    "statistic an optimizer's histogram or a length-bucketed batching "
    "stage consumes. Deterministic via the doc_id tiebreak. The global "
    "ORDER BY window is a single-partition sort, correct here and at "
    "oracle scale; at 100 TB you compute the same boundaries with "
    "approx_percentile (or repartitionByRange sampling) and keep the "
    "identical downstream shape.",
)
def a25_equidepth_histogram(spark, sf_dir):
    from pyspark.sql import Window as W

    b = t(spark, sf_dir, "documents").select(
        "n_chars",
        F.ntile(10).over(W.orderBy("n_chars", "doc_id")).alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.min("n_chars").alias("lo"),
        F.max("n_chars").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "sample_per_group_topk",
    """
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
    "Exact-k per-stratum sampling: keep exactly 5 docs per source, "
    "chosen by rank over a deterministic Knuth multiplicative hash of "
    "the key — the reproducible counterpart of reservoir sampling "
    "(sample_stratified's sampleBy draws a *fraction* with a seed; this "
    "draws a fixed count with no RNG at all, so reruns and engines "
    "agree bit-for-bit). One ranking window per group key = single "
    "shuffle; at 100 TB the same plan holds, and because the hash is "
    "uniform the per-group rank-5 cut is an unbiased sample regardless "
    "of how doc_ids were assigned.",
)
def sample_per_group_topk(spark, sf_dir):
    from pyspark.sql import Window as W

    h = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    )
    w = W.partitionBy("source").orderBy(h, "doc_id")
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .select("doc_id", "source")
    )


@register(
    "twap_per_user",
    """
    WITH iv AS (
      SELECT user_id,
             CAST(ROUND(value*100) AS BIGINT) AS value_c,
             LEAD(CAST(epoch_us(ts) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) - CAST(epoch_us(ts) AS BIGINT) AS dur_us
      FROM events
    )
    SELECT user_id,
           CAST(SUM(value_c * dur_us) AS BIGINT) AS vt_sum,
           CAST(SUM(dur_us) AS BIGINT) AS t_sum,
           CAST(SUM(value_c * dur_us) AS DOUBLE) / SUM(dur_us) / 100.0
             AS twap
    FROM iv WHERE dur_us IS NOT NULL
    GROUP BY user_id
    """,
    "Time-weighted average (TWAP): each observation is weighted by how "
    "long it was the current value (interval to the next event, via one "
    "LEAD window per user), then one aggregate divides the exact integer "
    "sums — the standard financial/telemetry downsampling statistic that "
    "a plain AVG gets wrong under irregular sampling. Both sums stay "
    "BIGINT (cents x micros < 2^63 by a wide margin), so the final "
    "single division is the only float op and is bit-identical across "
    "engines and partitionings. Window + agg share the user_id "
    "partitioning: one shuffle total.",
)
def twap_per_user(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    iv = ev.withColumn("dur_us", F.lead("ts_us").over(w) - F.col("ts_us"))
    return (
        iv.where(F.col("dur_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value_c") * F.col("dur_us")).alias("vt_sum"),
            F.sum("dur_us").alias("t_sum"),
        )
        .select(
            "user_id",
            "vt_sum",
            "t_sum",
            (F.col("vt_sum").cast("double") / F.col("t_sum") / 100.0).alias("twap"),
        )
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS to_type
      FROM events
    )
    SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
    "First-order transition matrix (Markov counts): for each user's "
    "time-ordered event stream, count every consecutive (from -> to) "
    "event-type pair — the building block of next-action models, "
    "anomaly scoring, and the funnel operator's unordered cousin. One "
    "LEAD window keyed by user then a tiny (|types|^2-row) aggregate; "
    "the window shuffle dominates and the count table broadcasts "
    "onward at any scale.",
)
def event_transition_matrix(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.expr("ts div 1000").alias("ts_us")
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "a26_median_abs_deviation",
    """
    WITH med AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ), m AS (
      SELECT source,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS median_lo
      FROM med GROUP BY source
    ), dev AS (
      SELECT d.source, ABS(d.n_chars - m.median_lo) AS adev,
             ROW_NUMBER() OVER (PARTITION BY d.source
                                ORDER BY ABS(d.n_chars - m.median_lo),
                                         d.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d.source) AS n
      FROM documents d JOIN m ON d.source = m.source
    )
    SELECT source,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN adev END) AS mad
    FROM dev GROUP BY source
    """,
    "Median absolute deviation per group — the robust spread statistic "
    "outlier filters use when stddev is itself corrupted by the "
    "outliers. Two exact order-statistic passes (median = the "
    "ceil(n/2)-th value by row_number, lower median for even n with "
    "doc_id tiebreak — no float interpolation, bit-equal on both "
    "engines), with the per-group medians broadcast back between them. "
    "Each pass is one window shuffle on the group key; at 100 TB the "
    "same two-pass shape runs with approx_percentile medians and keeps "
    "the join/aggregate layout.",
)
def a26_median_abs_deviation(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")

    def lower_median(df, val_col, out_name):
        r = df.select(
            "*",
            F.row_number()
            .over(W.partitionBy("source").orderBy(val_col, "doc_id"))
            .alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("source")).alias("n"),
        )
        return r.groupBy("source").agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col(val_col))
            ).alias(out_name)
        )

    med = lower_median(docs, "n_chars", "median_lo")
    dev = docs.join(F.broadcast(med), "source").select(
        "doc_id",
        "source",
        F.abs(F.col("n_chars") - F.col("median_lo")).alias("adev"),
    )
    return lower_median(dev, "adev", "mad")


@register(
    "w_distinct_over_window",
    """
    SELECT user_id, event_id,
           CAST(COUNT(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS distinct_types_so_far
    FROM events
    """,
    "Running DISTINCT count over a window (how many different event "
    "types has this user produced so far) — a shape Spark's window "
    "functions reject directly (DISTINCT isn't supported in window "
    "aggregates), so the engine expresses it as size(collect_set() "
    "OVER w): the set dedups incrementally per frame and size() reads "
    "its cardinality. Same single shuffle on the partition key as any "
    "running aggregate; the set's size is bounded by |event types| (5), "
    "so state per row is O(types), not O(rows). DuckDB runs the "
    "DISTINCT window natively — the oracle proves the rewrite exact.",
)
def w_distinct_over_window(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w)).alias("distinct_types_so_far"),
    )


@register(
    "sub_not_in_nullable",
    """
    SELECT l_orderkey, l_linenumber, l_suppkey
    FROM lineitem
    WHERE nullif(l_suppkey, 3) NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000
    )
    """,
    "Null-aware NOT IN: the probe expression nullif(l_suppkey, 3) is "
    "genuinely nullable, so three-valued logic applies — rows whose "
    "probe is NULL evaluate NOT IN as NULL (not TRUE) and are filtered "
    "out, alongside rows matching the subquery list. Spark must plan "
    "the null-aware anti-join variant (plain anti-join would wrongly "
    "keep the NULL-probe rows); DuckDB implements the same standard "
    "semantics natively, so the oracle pins the tri-state behavior "
    "exactly. The build side (filtered supplier keys) broadcasts.",
)
def sub_not_in_nullable(spark, sf_dir):
    _vw = t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return t(spark, sf_dir, "lineitem").sparkSession.sql(
        """
        SELECT l_orderkey, l_linenumber, l_suppkey
        FROM lineitem
        WHERE nullif(l_suppkey, 3) NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000
        )
        """
    )


@register(
    "pseudonymize_keys",
    """
    SELECT sha256('pepper-2024:' || CAST(user_id AS VARCHAR)) AS user_pseudo,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
    GROUP BY user_id
    """,
    "Key pseudonymization: replace the natural user key with a salted "
    "SHA-256 digest before the table leaves the trust boundary — "
    "analytics (counts, distincts, joins between pseudonymized tables) "
    "still work because the mapping is deterministic, but the raw id "
    "never appears downstream. Pure projection folded into the "
    "aggregate's first pass (the digest IS the group key after the "
    "map side); the pepper string would come from a secret store in "
    "production. Complements text_redact_pii: that scrubs content, "
    "this scrubs identity columns.",
)
def pseudonymize_keys(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .select(
            F.sha2(
                F.concat(F.lit("pepper-2024:"), F.col("user_id").cast("string")), 256
            ).alias("user_pseudo"),
            "n_events",
            "n_types",
        )
    )


@register(
    "stream_stateful_engagement",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND(value*100) AS BIGINT)) / 100.0 AS total_value,
           MAX(CAST(epoch_us(ts) AS BIGINT)) AS last_ts_us
    FROM events GROUP BY user_id
    """,
    "Custom stateful streaming operator IN the oracle gate: the "
    "applyInPandasWithState per-user engagement state machine "
    "(streaming/stateful.py) drains the events table through a real "
    "availableNow streaming query into a memory sink, takes each "
    "user's final state row, and must equal the batch aggregate the "
    "oracle computes — proving the incremental state fold is exactly "
    "the associative aggregate it claims to be. Value totals "
    "accumulate in integer cents inside the state (bit-exact under "
    "any batch split); timestamps compared at micro precision "
    "(events.ts is nanos parquet).",
)
def stream_stateful_engagement(spark, sf_dir):
    import os
    import tempfile
    import uuid

    from youtube_trending_data_pipeline_spark.streaming.stateful import (
        running_user_engagement,
    )

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(batch.dtypes).get("ts", "")
    src_dir = tempfile.mkdtemp(prefix="stateful-src-")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src_dir)
        .select("user_id", ts_nanos(ts_dtype).alias("ts"), "value")
    )
    out = running_user_engagement(stream)
    name = f"eng_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT user_id,
               max_by(n_events, last_ts) AS n_events,
               max_by(total_value, last_ts) AS total_value,
               max(last_ts) div 1000 AS last_ts_us
        FROM {name} GROUP BY user_id
        """
    )


@register(
    "l_topk_with_ties",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             RANK() OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT) DESC
             ) AS rk
      FROM orders
    ) WHERE rk <= 2
    """,
    "Top-k WITH TIES per group: RANK instead of ROW_NUMBER, so every "
    "order tying the 2nd-highest price is kept — the SQL-standard "
    "FETCH FIRST k WITH TIES semantics, and the correct choice when "
    "truncating ties would bias a report (l_topk_per_group's "
    "row_number variant is the deterministic-cardinality choice). "
    "Ordering on exact cents makes tie groups bit-identical across "
    "engines; same single window shuffle as any per-group rank.",
)
def l_topk_with_ties(spark, sf_dir):
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy(
        F.desc(F.round(F.col("o_totalprice") * 100).cast("long"))
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("rk"),
        )
        .where(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "w_ratio_to_report",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(ROUND(l_extendedprice*100) AS BIGINT) AS DOUBLE)
             / SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
               OVER (PARTITION BY l_orderkey) AS line_share
    FROM lineitem
    """,
    "Ratio-to-report: each line's share of its order's total — the "
    "percent-of-group-total window every revenue report needs, with "
    "no self-join (the naive formulation joins the table to its own "
    "groupBy). Numerator and denominator are both exact integer cents; "
    "the single division per row is the only float op, so shares are "
    "bit-identical regardless of partition merge order. One window "
    "shuffle on the group key.",
)
def w_ratio_to_report(spark, sf_dir):
    from pyspark.sql import Window as W

    cents_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (
            cents_c.cast("double")
            / F.sum(cents_c).over(W.partitionBy("l_orderkey"))
        ).alias("line_share"),
    )


@register(
    "a27_pivot_multi_measure",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
             AS click_n,
           SUM(CASE WHEN event_type = 'click'
               THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) / 100.0
             AS click_value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS purchase_n,
           SUM(CASE WHEN event_type = 'purchase'
               THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) / 100.0
             AS purchase_value
    FROM events GROUP BY user_id
    """,
    "Pivot with MULTIPLE measures per spread column (count AND value "
    "total per event type) — Spark's pivot(...).agg(m1, m2) names "
    "output columns type_measure, mirrored here with explicit aliases "
    "so both engines agree; a17_pivot is the single-measure form. The "
    "pivot lowers to the same one-pass conditional aggregation (no "
    "per-type scans), with value sums in exact cents.",
)
def a27_pivot_multi_measure(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("value_c") / 100.0).alias("value"),
        )
        .select(
            "user_id",
            F.coalesce("click_n", F.lit(0)).alias("click_n"),
            F.coalesce("click_value", F.lit(0.0)).alias("click_value"),
            F.coalesce("purchase_n", F.lit(0)).alias("purchase_n"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
        )
    )


@register(
    "sub_scalar_in_select",
    """
    SELECT n_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier
            WHERE s_nationkey = n_nationkey) AS n_suppliers,
           (SELECT COALESCE(SUM(CAST(ROUND(s_acctbal*100) AS BIGINT)), 0)
            FROM supplier WHERE s_nationkey = n_nationkey) / 100.0
             AS total_acctbal
    FROM nation
    """,
    "Correlated scalar subqueries in the SELECT list (not the WHERE "
    "clause): per-nation supplier count and balance total as inline "
    "subqueries — the report-writing idiom Catalyst decorrelates into "
    "a left outer join against one grouped aggregate, preserving "
    "nations with zero suppliers (COUNT gives 0, SUM gives NULL -> "
    "COALESCE 0). Both subqueries fold into a single aggregate pass; "
    "balances in exact cents.",
)
def sub_scalar_in_select(spark, sf_dir):
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return t(spark, sf_dir, "nation").sparkSession.sql(
        """
        SELECT n_name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier
                WHERE s_nationkey = n_nationkey) AS n_suppliers,
               (SELECT COALESCE(SUM(CAST(ROUND(s_acctbal*100) AS BIGINT)), 0)
                FROM supplier WHERE s_nationkey = n_nationkey)
                 / CAST(100 AS DOUBLE) AS total_acctbal
        FROM nation
        """
    )


@register(
    "token_freq_of_freq",
    """
    WITH tf AS (
      SELECT token, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
            FROM documents)
      WHERE token <> ''
      GROUP BY token
    )
    SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_tokens_with_cnt
    FROM tf GROUP BY cnt
    """,
    "Frequency-of-frequencies (the Zipf/Good-Turing table): how many "
    "distinct tokens occur exactly k times — a second-order aggregate "
    "(aggregate of an aggregate, no join) used for smoothing estimates "
    "and corpus-health checks (a missing long tail signals boilerplate). "
    "Two hash aggregates; the second one's input is already tiny "
    "(|vocab| rows) so only the first shuffle touches corpus-scale "
    "data, and it partial-aggregates map-side.",
)
def token_freq_of_freq(spark, sf_dir):
    tf = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return tf.groupBy("cnt").agg(F.count(F.lit(1)).alias("n_tokens_with_cnt"))


# ---------------------------------------------------------------------------
# Round 5 additions: distributed linear algebra + collocation extraction
# ---------------------------------------------------------------------------


@register(
    "embedding_gram_matrix",
    """
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))
             AS qv
      FROM embeddings
    )
    SELECT i, j, CAST(SUM(qv[i + 1] * qv[j + 1]) AS BIGINT) AS gram
    FROM q, generate_series(0, 63) gi(i), generate_series(0, 63) gj(j)
    WHERE j >= i
    GROUP BY i, j
    """,
    "Distributed Gram matrix over the embedding column — the reduction "
    "behind PCA / whitening / covariance-conditioned quantization of an "
    "embedding corpus (X^T X, upper triangle; subtract the mean outer "
    "product downstream for covariance). Elements are quantized to 1e-4 "
    "units so every entry is an exact BIGINT sum — order-independent "
    "under partial aggregation and bit-identical to the oracle. "
    "Compute path: per-partition vectorized Q.T @ Q over Arrow batches "
    "(operators/similarity.py:gram_matrix), each partition emitting its "
    "d*(d+1)/2 partial cells; ONE tiny hash aggregate merges them, so "
    "the exchange carries O(partitions * d^2) rows regardless of corpus "
    "size. A/B-measured 5.6x over the whole-stage-codegen HOF pair "
    "expansion at sf0.1 (0.34 s vs 1.9 s warm) — the BLAS-shaped batch "
    "kernel beats per-element codegen, same lesson as the multimodal "
    "decoders. Driver-side eigendecomposition of the 64x64 result is "
    "O(d^3) and free.",
)
def embedding_gram_matrix(spark, sf_dir):
    return sim.gram_matrix(
        t(spark, sf_dir, "embeddings"), vec_col="embedding", unit=10_000.0
    )


@register(
    "token_skipgram_pairs",
    """
    WITH tk AS (
      SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    )
    SELECT toks[i + 1] AS center, toks[j + 1] AS context,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tk,
         LATERAL (SELECT unnest(range(0, len(toks))) AS i) gi,
         LATERAL (SELECT unnest(range(greatest(i - 2, 0),
                                      least(i + 2, len(toks) - 1) + 1)) AS j) gj
    WHERE j <> i
    GROUP BY center, context
    """,
    "Skip-gram (center, context) pair extraction with a +/-2 token "
    "window — the corpus pass behind word2vec-style embedding training "
    "and PMI collocation mining. Same map-side-generation shape as "
    "embedding_gram_matrix: the window pairs are produced per document "
    "by a nested HOF (bounded inner sequence, so work is O(tokens * "
    "window), never O(tokens^2)) and the single exchange carries "
    "partially-aggregated (center, context) counts — vocabulary-sized, "
    "not corpus-sized. Skewed stopword pairs are absorbed map-side by "
    "the partial aggregate; at 100 TB add a count-min prefilter or "
    "frequency cap before the shuffle if the pair vocabulary itself "
    "explodes.",
)
def token_skipgram_pairs(spark, sf_dir):
    toks = F.filter(
        F.split(F.lower("text"), " "), lambda x: x != F.lit("")
    )
    pairs = F.expr(
        """
        flatten(transform(sequence(0, size(_toks) - 1), i ->
          transform(
            filter(sequence(greatest(i - 2, 0),
                            least(i + 2, size(_toks) - 1)),
                   j -> j != i),
            j -> struct(_toks[i] AS center, _toks[j] AS context))))
        """
    )
    return (
        t(spark, sf_dir, "documents")
        .select(toks.alias("_toks"))
        .where(F.size("_toks") > 0)
        .select(F.explode(pairs).alias("c"))
        .groupBy(F.col("c.center").alias("center"), F.col("c.context").alias("context"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "text_nfc_normalize",
    """
    SELECT doc_id,
           nfc_normalize(substr(text, 1, 40) || 'e' || chr(769) || chr(8217))
             AS norm,
           CAST(length(substr(text, 1, 40) || 'e' || chr(769) || chr(8217))
                AS BIGINT) AS n_before,
           CAST(length(nfc_normalize(substr(text, 1, 40) || 'e' || chr(769)
                || chr(8217))) AS BIGINT) AS n_after
    FROM documents
    """,
    "Unicode NFC normalization — the canonicalization every multilingual "
    "training corpus needs before hashing/dedup (a composed and a "
    "decomposed 'e-acute' must fingerprint identically). Spark has no "
    "built-in Unicode normalizer, so this is the catalog's one "
    "deliberate Arrow-vectorized pandas_udf (SURVEY §2.11: the "
    "extension surface demonstrated UNDER the exact gate, not just in "
    "tests): unicodedata.normalize('NFC') over Arrow string batches, "
    "checked bit-for-bit against DuckDB's nfc_normalize. Decomposed "
    "input is synthesized by appending e + U+0301 (combining acute; "
    "collapses to one codepoint under NFC — visible in n_before vs "
    "n_after) and U+2019 (NFC-invariant quote). Plan: pure map-side "
    "projection, zero shuffles; the Arrow transfer is the batch-"
    "vectorized slow path (10-100x over row UDFs), and at 100 TB this "
    "runs as the same narrow stage fused with the scan.",
)
def text_nfc_normalize(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf

    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    nfc = pandas_udf(_nfc, "string")

    raw = F.concat(
        F.substring("text", 1, 40), F.lit("é’")
    )
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", raw.alias("_raw"))
        .select(
            "doc_id",
            nfc("_raw").alias("norm"),
            F.length("_raw").cast("long").alias("n_before"),
            F.length(nfc("_raw")).cast("long").alias("n_after"),
        )
    )


@register(
    "merge_upsert",
    """
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderkey % 7 <> 0
    ), updates AS (
      SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) + 500 AS price_cents
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT COALESCE(u.k, b.k) AS k,
           COALESCE(u.price_cents, b.price_cents) AS price_cents,
           CASE WHEN u.k IS NOT NULL AND b.k IS NOT NULL THEN 'update'
                WHEN u.k IS NOT NULL THEN 'insert'
                ELSE 'keep' END AS action
    FROM base b FULL OUTER JOIN updates u ON b.k = u.k
    """,
    "MERGE / upsert semantics (the lakehouse MERGE INTO statement, and "
    "the reference's WRITE_APPEND-with-dedup upgrade path) expressed as "
    "one full outer join: source rows update matching targets and "
    "insert unmatched ones, untouched targets pass through, and every "
    "row is tagged with the action taken — the audit column a CDC "
    "pipeline writes. Complements cdc_latest_per_key (which compacts a "
    "changelog) and snapshot_diff (which derives the changelog): "
    "together they are the full change-data round trip. One shuffle on "
    "the merge key; at 100 TB the same plan holds with both sides "
    "bucketed by key, making the merge exchange-free.",
)
def merge_upsert(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    orders = t(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("price_cents"),
    )
    updates = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        (cents("o_totalprice") + 500).alias("price_cents"),
    )
    b, u = base.alias("b"), updates.alias("u")
    return b.join(u, F.col("b.k") == F.col("u.k"), "full_outer").select(
        F.coalesce(F.col("u.k"), F.col("b.k")).alias("k"),
        F.coalesce(
            F.col("u.price_cents"), F.col("b.price_cents")
        ).alias("price_cents"),
        F.when(
            F.col("u.k").isNotNull() & F.col("b.k").isNotNull(),
            F.lit("update"),
        )
        .when(F.col("u.k").isNotNull(), F.lit("insert"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


@register(
    "ngram_lm_counts",
    """
    WITH tk AS (
      SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), uni AS (
      SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n_unigram
      FROM (SELECT unnest(toks) AS t FROM tk WHERE len(toks) > 0)
      GROUP BY 1
    ), pairs AS (
      SELECT toks[i + 1] AS w1, toks[i + 2] AS w2
      FROM tk, LATERAL (SELECT unnest(range(0, greatest(len(toks) - 1, 0)))
                        AS i) g
      WHERE len(toks) >= 2
    ), lefts AS (
      SELECT w2 AS token, CAST(COUNT(DISTINCT w1) AS BIGINT) AS n_left_types
      FROM pairs GROUP BY 1
    ), rights AS (
      SELECT w1 AS token, CAST(COUNT(DISTINCT w2) AS BIGINT) AS n_right_types
      FROM pairs GROUP BY 1
    )
    SELECT u.token, u.n_unigram,
           COALESCE(l.n_left_types, 0) AS n_left_types,
           COALESCE(r.n_right_types, 0) AS n_right_types
    FROM uni u
    LEFT JOIN lefts l USING (token)
    LEFT JOIN rights r USING (token)
    """,
    "n-gram language-model count table with Kneser-Ney continuation "
    "counts: per token, its unigram frequency plus the number of "
    "DISTINCT left and right neighbor types over all adjacent bigrams — "
    "the statistics behind KN-smoothed LM scoring (a classic "
    "perplexity-based quality filter for pretraining corpora). Adjacent "
    "pairs are generated map-side per document (same HOF shape as "
    "token_skipgram_pairs, guarded against Spark's DESCENDING "
    "sequence(0,-1) on 1-token docs); three vocabulary-sized hash "
    "aggregates then two joins on the tiny vocab table. At 100 TB the "
    "pair aggregates partial map-side and the final joins are "
    "vocabulary-scale, not corpus-scale.",
)
def ngram_lm_counts(spark, sf_dir):
    toks = F.filter(
        F.split(F.lower("text"), " "), lambda x: x != F.lit("")
    )
    docs = (
        t(spark, sf_dir, "documents")
        .select(toks.alias("_toks"))
        .where(F.size("_toks") > 0)
    )
    uni = (
        docs.select(F.explode("_toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_unigram"))
    )
    pairs = (
        docs.where(F.size("_toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_toks) - 2), i -> "
                    "struct(_toks[i] AS w1, _toks[i + 1] AS w2))"
                )
            ).alias("c")
        )
        .select("c.w1", "c.w2")
    )
    lefts = pairs.groupBy(F.col("w2").alias("token")).agg(
        F.countDistinct("w1").alias("n_left_types")
    )
    rights = pairs.groupBy(F.col("w1").alias("token")).agg(
        F.countDistinct("w2").alias("n_right_types")
    )
    return (
        uni.join(lefts, "token", "left")
        .join(rights, "token", "left")
        .select(
            "token",
            "n_unigram",
            F.coalesce("n_left_types", F.lit(0)).alias("n_left_types"),
            F.coalesce("n_right_types", F.lit(0)).alias("n_right_types"),
        )
    )


@register(
    "quality_filter_audit",
    """
    WITH s AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tokens,
             CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> ''))
                       > 0
                  THEN CAST(len(replace(text, ' ', '')) AS DOUBLE)
                       / len(list_filter(string_split(text, ' '),
                                         x -> x <> ''))
                  ELSE 0.0 END AS mean_tok_len
      FROM documents
    )
    SELECT doc_id,
           (n_tokens >= 10 AND n_tokens <= 500
            AND lang IN ('en', 'es', 'de') AND mean_tok_len >= 2.0)
             AS keep,
           concat_ws(',',
             CASE WHEN n_tokens < 10 THEN 'too_short' END,
             CASE WHEN n_tokens > 500 THEN 'too_long' END,
             CASE WHEN lang NOT IN ('en', 'es', 'de') THEN 'lang' END,
             CASE WHEN mean_tok_len < 2.0 THEN 'gibberish' END)
             AS reasons
    FROM s
    """,
    "Corpus quality gate as an AUDIT table: every document gets a keep "
    "verdict plus the comma-joined list of rules it failed (length "
    "bounds, language allowlist, mean-token-length gibberish floor) in "
    "a fixed rule order — the reviewable artifact a production filter "
    "emits alongside the kept corpus (clean_corpus_pipeline is the "
    "keep-side composite; this is its explainable complement). Pure "
    "map-side projection, zero shuffles; mean token length is the one "
    "float and derives from two integers with a single division, "
    "identical in both engines.",
)
def quality_filter_audit(spark, sf_dir):
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    n_tokens = F.size(toks)
    mean_tok_len = F.when(
        n_tokens > 0,
        F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tokens,
    ).otherwise(F.lit(0.0))
    lang_ok = F.col("lang").isin("en", "es", "de")
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", n_tokens.alias("n_tokens"),
                mean_tok_len.alias("mean_tok_len"))
        .select(
            "doc_id",
            (
                (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 500)
                & F.col("lang").isin("en", "es", "de")
                & (F.col("mean_tok_len") >= 2.0)
            ).alias("keep"),
            F.concat_ws(
                ",",
                F.when(F.col("n_tokens") < 10, F.lit("too_short")),
                F.when(F.col("n_tokens") > 500, F.lit("too_long")),
                F.when(~F.col("lang").isin("en", "es", "de"), F.lit("lang")),
                F.when(F.col("mean_tok_len") < 2.0, F.lit("gibberish")),
            ).alias("reasons"),
        )
    )


def _pca_oracle_sql(sf_dir: str | None = None) -> str:
    """GENERATED oracle for embedding_pca_project: an INDEPENDENT replay of
    the whole PCA pipeline outside Spark — DuckDB reads the same parquet,
    numpy re-derives the quantized integer Gram matrix (order-independent,
    so it equals the distributed reduction bit-for-bit), eigh + the same
    sign canonicalization produce the axes, and the emitted SQL projects
    the raw embeddings onto those axes as full-precision literals with the
    SAME left-associated fold order Spark's F.aggregate uses — so the
    doubles agree bit-for-bit and the e4 rounding is boundary-safe. Same
    full-pipeline-oracle pattern as sim_ivf_pivot_topk (VERDICT r5 #2)."""
    import os

    import duckdb
    import numpy as np

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        "WHERE embedding IS NOT NULL"
    ).fetchall()
    con.close()
    m = np.array([r[0] for r in rows], dtype="float64")
    unit = 10_000.0
    # identical quantization to operators/similarity.gram_matrix
    q = np.floor(m * unit + 0.5).astype("int64")
    g = np.zeros((m.shape[1], m.shape[1]))
    gi = q.T @ q  # int64, order-independent == distributed cell sums
    g[:, :] = gi
    g /= unit * unit
    vals, vecs = np.linalg.eigh(g)
    order = np.argsort(vals)[::-1][:2]
    axes = vecs[:, order]
    for col in range(axes.shape[1]):  # canonical sign, same rule as operator
        nz = np.flatnonzero(np.abs(axes[:, col]) > 1e-12)
        if len(nz) and axes[nz[0], col] < 0:
            axes[:, col] = -axes[:, col]
    d = axes.shape[0]

    def fold(col: int) -> str:
        # left-associated += chain == F.aggregate's sequential fold
        terms = "".join(
            f" + CAST(embedding[{i + 1}] AS DOUBLE) * {axes[i, col]!r}"
            for i in range(d)
        )
        return f"(0.0{terms})"

    return f"""
    SELECT vec_id,
           CAST(FLOOR({fold(0)} * 10000 + 0.5) AS BIGINT) AS pc1_e4,
           CAST(FLOOR({fold(1)} * 10000 + 0.5) AS BIGINT) AS pc2_e4
    FROM embeddings
    """


@register(
    "embedding_pca_project",
    _pca_oracle_sql,
    "PCA projection onto the top-2 principal axes of the embedding "
    "corpus — the completion of embedding_gram_matrix's story and the "
    "canonical driver/executor split: Gram reduces distributed (exact "
    "integer cells, one d^2-sized exchange), the 64x64 eigen solve is "
    "driver-side and free, and the projection is a zero-shuffle map "
    "with the eigenvectors baked in as plan literals. Sign-canonical "
    "eigenvectors make the output deterministic across reruns and "
    "partitionings. Oracle: a GENERATED full-pipeline replay "
    "(DuckDB+numpy re-derive the exact integer Gram and the same "
    "canonicalized eigh axes, then project with literal axes in the "
    "same IEEE fold order), so the formerly rows-only entry is now "
    "value-hash exact (VERDICT r5 #2). Output rounded to 1e-4 units "
    "as BIGINT on both sides.",
)
def embedding_pca_project(spark, sf_dir):
    proj = sim.pca_project(
        t(spark, sf_dir, "embeddings"), id_col="vec_id", vec_col="embedding", k=2
    )
    return proj.select(
        "vec_id",
        F.floor(F.col("pc1") * 10000 + F.lit(0.5)).cast("long").alias("pc1_e4"),
        F.floor(F.col("pc2") * 10000 + F.lit(0.5)).cast("long").alias("pc2_e4"),
    )


@register(
    "stream_upsert_materialize",
    """
    SELECT user_id, event_id AS last_event_id,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
           CAST(ROUND(value * 100) AS BIGINT) AS last_value_cents
    FROM (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    "Streaming foreachBatch upsert MATERIALIZATION in the exact gate, "
    "across genuinely multiple micro-batches: the events file is split "
    "into 4 parquet chunks, streamed with maxFilesPerTrigger=1 (so "
    "availableNow really delivers several batches), and every batch is "
    "MERGED into a versioned keyed store — per user keep the event with "
    "the lexicographically greatest (ts, event_id). The keep-latest "
    "merge is associative and commutative, so the materialized table "
    "equals the batch latest-per-key query REGARDLESS of how the source "
    "was batched — the exactly-once upsert-sink semantics a lakehouse "
    "MERGE INTO gives a streaming pipeline (each version dir is an "
    "immutable snapshot; production swaps the versioned-parquet shim "
    "for Delta/Iceberg MERGE with the same batch function). Timestamps "
    "exposed as tz-free epoch micros, values as integer cents.",
)
def stream_upsert_materialize(spark, sf_dir):
    import tempfile
    import uuid

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(batch.dtypes).get("ts", "")
    src_dir = tempfile.mkdtemp(prefix="upsrc-")
    # split into 4 files so maxFilesPerTrigger=1 yields 4 real batches
    batch.repartition(4).write.mode("overwrite").parquet(src_dir)
    state_root = tempfile.mkdtemp(prefix="upstate-")
    versions: list[str] = []

    def keep_latest(df):
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy(
            F.desc("last_ts_us"), F.desc("last_event_id")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    def merge_batch(bdf, epoch_id):
        upserts = bdf.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts_us").alias("last_ts_us"),
            F.col("value_cents").alias("last_value_cents"),
        )
        if versions:
            prev = bdf.sparkSession.read.parquet(versions[-1])
            merged = keep_latest(prev.unionByName(upserts))
        else:
            merged = keep_latest(upserts)
        out = f"{state_root}/v{epoch_id}_{uuid.uuid4().hex[:6]}"
        merged.write.mode("overwrite").parquet(out)
        versions.append(out)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .select(
            "user_id",
            "event_id",
            ts_micros(ts_dtype).alias("ts_us"),
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if len(versions) < 2:
        raise RuntimeError(
            f"expected multiple micro-batches, got {len(versions)} — the "
            "incremental-merge path was not actually exercised"
        )
    return spark.read.parquet(versions[-1])


@register(
    "url_domain_stats",
    """
    WITH u AS (
      SELECT doc_id,
             'https://WWW.' || source || '.Example.com/p/'
               || CAST(doc_id AS VARCHAR) || '/' || lang || '?utm=x#frag'
               AS url
      FROM documents
    ), parts AS (
      SELECT doc_id,
             split_part(split_part(url, '//', 2), '?', 1) AS hostpath
      FROM u
    ), canon AS (
      SELECT doc_id,
             lower(split_part(hostpath, '/', 1)) AS domain,
             substr(hostpath, len(split_part(hostpath, '/', 1)) + 1) AS path
      FROM parts
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT path) AS BIGINT) AS n_unique_paths
    FROM canon GROUP BY domain
    """,
    "URL canonicalization + per-domain stats — the crawl-curation "
    "primitive behind domain-level filtering/blocklists and URL-dedup "
    "of a pretraining crawl: host lowercased, query string and fragment "
    "stripped, then one domain-keyed aggregate (doc count + distinct "
    "canonical paths). URLs are synthesized from documents fields with "
    "a mixed-case host, tracking params and a fragment so the "
    "canonicalization is observable. Spark side uses the real "
    "parse_url(HOST/PATH) built-in; the oracle mirrors it with pure "
    "string splitting. Map-side parse + ONE vocabulary-sized hash "
    "aggregate; domain skew (one giant host) is absorbed by partial "
    "aggregation exactly like inverted_index's stopword keys.",
)
def url_domain_stats(spark, sf_dir):
    url = F.concat(
        F.lit("https://WWW."), F.col("source"), F.lit(".Example.com/p/"),
        F.col("doc_id").cast("string"), F.lit("/"), F.col("lang"),
        F.lit("?utm=x#frag"),
    )
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", url.alias("url"))
        .select(
            "doc_id",
            F.lower(F.parse_url("url", F.lit("HOST"))).alias("domain"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("path").alias("n_unique_paths"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 multimodal batch: scene cuts, grayscale histogram, silence trim
# ---------------------------------------------------------------------------


def _scene_cut_oracle(n_frames: int = 4, threshold_ppm: int = 150_000) -> str:
    """Exact replay of the Y4M scene-cut path: per adjacent frame pair,
    integer luma sums and the ppm delta verdict."""
    def fsum(f: int) -> str:
        return " + ".join(_y4m_luma(f, i) for i in range(4))

    parts = []
    for f in range(1, n_frames):
        parts.append(
            f"""
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST({f} AS INT) AS frame_idx,
           CAST((1000000 * abs(({fsum(f)}) - ({fsum(f - 1)}))) // (255 * 4)
                AS BIGINT) AS delta_ppm,
           ((1000000 * abs(({fsum(f)}) - ({fsum(f - 1)}))) // (255 * 4))
             >= {threshold_ppm} AS is_cut
    FROM documents"""
        )
    return " UNION ALL ".join(parts)


@register(
    "multimodal_video_scene_cuts",
    _scene_cut_oracle(),
    "Multimodal video scene-change detection: per-doc synthetic 4-frame "
    "2x2 Y4M clip (real bytes) -> mapInPandas with the REAL Y4M parser "
    "-> one row per adjacent frame pair with the integer mean-luma "
    "delta (ppm of full-scale) and the cut verdict at a 15% threshold "
    "— the shot-boundary pass a video-training pipeline runs before "
    "frame sampling (sample densely near cuts, sparsely inside shots). "
    "All frame pairs compare inside the Python worker from one binary "
    "cell; exact integer deltas so the oracle replays bit-for-bit.",
)
def multimodal_video_scene_cuts(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        detect_scene_cuts,
    )

    frame_parts = []
    for f in range(4):
        luma_hex = F.concat(
            *[
                F.lpad(
                    F.hex((F.col("doc_id") * 11 + f * 29 + i * 17) % 256),
                    2,
                    "0",
                )
                for i in range(4)
            ]
        )
        chroma_hex = F.concat(
            F.lpad(F.hex((F.col("doc_id") * 5 + f * 3) % 256), 2, "0"),
            F.lpad(F.hex((F.col("doc_id") * 3 + f * 7) % 256), 2, "0"),
        )
        frame_parts.append(F.encode(F.lit("FRAME\n"), "utf-8"))
        frame_parts.append(F.unhex(F.concat(luma_hex, chroma_hex)))
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("video").alias("media_type"),
        F.concat(
            F.encode(F.lit("YUV4MPEG2 W2 H2 F10:1 Ip A1:1 C420\n"), "utf-8"),
            *frame_parts,
        ).alias("content"),
    )
    return detect_scene_cuts(media, threshold_ppm=150_000).orderBy(
        "asset_id", "frame_idx"
    )


def _gray_hist_oracle() -> str:
    """Exact replay of the 2x2 P6 grayscale histogram: per pixel p,
    gray = (v(3p)+v(3p+1)+v(3p+2)) // 3, bucket = gray * 4 // 256."""
    def v(i: int) -> str:
        return f"((doc_id * 7 + {i} * 13) % 256)"

    pix = " UNION ALL ".join(
        f"SELECT doc_id, ((({v(3 * p)}) + ({v(3 * p + 1)}) + ({v(3 * p + 2)}))"
        f" // 3) * 4 // 256 AS bucket FROM documents"
        for p in range(4)
    )
    return f"""
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM ({pix})
    GROUP BY doc_id, bucket
    """


@register(
    "multimodal_image_histogram",
    _gray_hist_oracle(),
    "Multimodal image grayscale histogram: the same synthetic 2x2 P6 "
    "assets as multimodal_image_features, decoded by the REAL "
    "pure-Python P6 parser, reduced to sparse (bucket, n_px) rows over "
    "4 luminance buckets with integer gray = (r+g+b) // 3 — the "
    "exposure/contrast screen an image-training pipeline runs to drop "
    "all-black/all-white assets before the expensive embedding pass. "
    "Oracle replays every pixel exactly.",
)
def multimodal_image_histogram(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        image_gray_histogram,
    )

    pixel_hex = F.concat(
        *[
            F.lpad(F.hex((F.col("doc_id") * 7 + i * 13) % 256), 2, "0")
            for i in range(12)
        ]
    )
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.concat(
            F.encode(F.lit("P6\n2 2\n255\n"), "utf-8"), F.unhex(pixel_hex)
        ).alias("content"),
    )
    return image_gray_histogram(media, buckets=4).orderBy(
        "asset_id", "bucket"
    )


def _silence_oracle(threshold: int = 256) -> str:
    """Exact replay of the 4-sample WAV silence trim: nested CASE chains
    count leading/trailing samples with |v| < threshold."""
    s = [f"(((doc_id * 13 + {i} * 37) % 2048) - 1024)" for i in range(4)]

    def silent(i: int) -> str:
        return f"abs({s[i]}) < {threshold}"

    def chain(order: list[int]) -> str:
        # CASE WHEN not silent(first) THEN 0 WHEN not silent(second) THEN 1 ...
        whens = "".join(
            f" WHEN NOT ({silent(idx)}) THEN {k}"
            for k, idx in enumerate(order)
        )
        return f"CASE{whens} ELSE 4 END"

    return f"""
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST(4 AS BIGINT) AS n_samples,
           CAST({chain([0, 1, 2, 3])} AS BIGINT) AS lead_silent,
           CAST({chain([3, 2, 1, 0])} AS BIGINT) AS tail_silent
    FROM documents
    """


@register(
    "multimodal_audio_silence_trim",
    _silence_oracle(),
    "Multimodal audio silence trim: the same synthetic PCM16 WAV assets "
    "as multimodal_audio_features, decoded by the REAL chunk-walking "
    "WAV parser, measured for leading/trailing samples below an "
    "integer amplitude threshold — the trim pass a speech-training "
    "pipeline runs before chunking so padding silence doesn't become "
    "training tokens (an all-silent clip reports lead = tail = "
    "n_samples and gets dropped). Oracle replays the sample arithmetic "
    "with nested CASE chains.",
)
def multimodal_audio_silence_trim(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        audio_silence_trim,
    )

    def sample_hex(i: int):
        v = (F.col("doc_id") * 13 + i * 37) % 2048 - 1024
        u = F.pmod(v, F.lit(65536))
        return F.concat(
            F.lpad(F.hex(u % 256), 2, "0"),
            F.lpad(F.hex(F.floor(u / 256).cast("long")), 2, "0"),
        )

    data_hex = F.concat(*[sample_hex(i) for i in range(4)])
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("audio").alias("media_type"),
        F.concat(
            F.unhex(F.lit(_wav_header_hex())), F.unhex(data_hex)
        ).alias("content"),
    )
    return audio_silence_trim(media, threshold=256).orderBy("asset_id")


def _lpa_oracle(iterations: int = 3) -> str:
    """Unrolled replay of synchronous min-tie-break label propagation."""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f"""
    l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT e.dst AS node, r.label,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, r.label) AS rn
        FROM edges e JOIN l{i - 1} r ON r.node = e.src
        GROUP BY e.dst, r.label
      ) WHERE rn = 1
    )""")
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000 AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT s AS src, c AS dst FROM pairs
      UNION
      SELECT c AS src, s AS dst FROM pairs
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    l0 AS MATERIALIZED (SELECT node, CAST(node AS BIGINT) AS label FROM nodes),
    {','.join(steps)}
    SELECT node, CAST(label AS BIGINT) AS label FROM l{iterations}
    """


@register(
    "graph_label_propagation",
    _lpa_oracle(3),
    "Community detection IN the exact gate: 3 synchronous rounds of "
    "label propagation (Raghavan et al. 2007) over the supplier<->"
    "customer transaction graph — each node adopts its in-neighbors' "
    "most frequent label, ties to the smallest label. The async/random "
    "LPA of the paper is irreproducible by design; this deterministic "
    "synchronous variant is a pure function of the graph, replayed by "
    "the oracle as unrolled CTE rounds (the pagerank/HITS doctrine), "
    "and distinct from min-label connected components: frequency "
    "outranks label order. Per round: one join of the label vector "
    "onto the static edges + one count aggregate + one argmax window; "
    "localCheckpoint lineage cuts; src-bucketed edges make every "
    "round's join edge-side shuffle-free (tests/test_bucketing.py).",
)
def graph_label_propagation(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.graph import (
        label_propagation_sync,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_suppkey").alias("s"),
            (F.col("o_custkey") + 1000000).alias("c"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).union(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    ).distinct()
    return label_propagation_sync(edges, iterations=3)


@register(
    "w_pattern_v_shape",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) AS tsn,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
    ), lagged AS (
      SELECT user_id, event_id, tsn, vc,
             LAG(vc) OVER w AS prev_vc,
             LEAD(vc) OVER w AS next_vc
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
    )
    SELECT user_id, event_id,
           CAST(vc AS BIGINT) AS bottom_cents,
           CAST(LEAST(prev_vc - vc, next_vc - vc) AS BIGINT) AS depth_cents
    FROM lagged
    WHERE prev_vc > vc AND next_vc > vc
    """,
    "Row-pattern matching (the MATCH_RECOGNIZE shape, emulated the "
    "Spark way): per user's time-ordered event values, detect every "
    "V-shape — a strict local minimum (prev > bottom < next) — and "
    "report its depth, the dip-detection motif behind drawdown alerts "
    "and V-shaped-recovery screens. SQL:2016 MATCH_RECOGNIZE "
    "(DOWN+ UP+ patterns) compiles to exactly this lag/lead window "
    "form for fixed-length motifs; longer regex-style patterns chain "
    "more lags or fall through to the gaps-and-islands machinery "
    "(activity_islands). Integer cents; one shuffle on user_id shared "
    "by both window functions.",
)
def w_pattern_v_shape(spark, sf_dir):
    from pyspark.sql import Window as W

    from youtube_trending_data_pipeline_spark.catalog import cents

    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").alias("tsn"),
        cents("value").alias("vc"),
    )
    w = W.partitionBy("user_id").orderBy("tsn", "event_id")
    lagged = e.select(
        "user_id",
        "event_id",
        "vc",
        F.lag("vc").over(w).alias("prev_vc"),
        F.lead("vc").over(w).alias("next_vc"),
    )
    return lagged.where(
        (F.col("prev_vc") > F.col("vc")) & (F.col("next_vc") > F.col("vc"))
    ).select(
        "user_id",
        "event_id",
        F.col("vc").alias("bottom_cents"),
        F.least(
            F.col("prev_vc") - F.col("vc"), F.col("next_vc") - F.col("vc")
        ).alias("depth_cents"),
    )


@register(
    "sim_pq_adc_topk",
    """
    WITH comps AS (
      SELECT vec_id, CAST((i - 1) // 16 AS INTEGER) AS sub,
             (i - 1) % 16 AS j,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS q
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
    ), corpus AS (
      SELECT * FROM comps WHERE vec_id >= 5
    ), nc AS (
      -- corpus-relative codebook, capped at 256 (8-bit PQ): replays
      -- operators.similarity.pq_codebook_size from COUNT(*)
      SELECT LEAST(256, GREATEST(8, COUNT(*) // 250)) AS ncode
      FROM embeddings WHERE vec_id >= 5
    ), cent AS (
      SELECT vec_id AS centroid_id, sub, j, q FROM corpus
      WHERE vec_id IN (
        SELECT vec_id FROM (
          SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
          FROM embeddings WHERE vec_id >= 5
        ) r, nc WHERE r.rn <= nc.ncode)
    ), code_scored AS (
      SELECT c.vec_id, c.sub, ct.centroid_id,
             SUM((c.q - ct.q) * (c.q - ct.q)) AS dist
      FROM corpus c JOIN cent ct ON c.sub = ct.sub AND c.j = ct.j
      GROUP BY 1, 2, 3
    ), codes AS (
      SELECT vec_id AS neighbor_id, sub, centroid_id AS code FROM (
        SELECT vec_id, sub, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, centroid_id) AS rn
        FROM code_scored
      ) WHERE rn = 1
    ), dtable AS (
      SELECT qc.vec_id AS query_id, qc.sub,
             ct.centroid_id AS code,
             SUM((qc.q - ct.q) * (qc.q - ct.q)) AS d
      FROM comps qc JOIN cent ct ON qc.sub = ct.sub AND qc.j = ct.j
      WHERE qc.vec_id < 5
      GROUP BY 1, 2, 3
    ), scored AS (
      SELECT dtable.query_id, codes.neighbor_id, SUM(dtable.d) AS adc_dist_q
      FROM codes JOIN dtable ON dtable.sub = codes.sub
                            AND dtable.code = codes.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(adc_dist_q AS BIGINT) AS adc_dist_q,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, adc_dist_q,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist_q, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    "PQ search by Asymmetric Distance Computation (Jegou et al., "
    "PAMI'11) in the exact gate — the READ path that completes "
    "embedding_pq_encode's write path: queries (vec_id < 5) build "
    "per-subspace integer distance tables against the deterministic "
    "codebook; every corpus vector is ranked using ONLY its PQ codes "
    "(4 small ints — the 16x-compressed representation; raw corpus "
    "vectors never stream through the search). Top-3 per query, ties "
    "to the smaller id. Oracle replays codebook build, encoding, "
    "table build, and ranking end to end on integer grids. Round 10: "
    "the codebook is CORPUS-RELATIVE capped at 256 entries "
    "(operators/similarity.pq_codebook_size, replayed by the oracle "
    "from COUNT(*)) — growth stops at the 8-bit-code cap, so encode "
    "cost stays linear in the corpus; the floor reproduces the old "
    "fixed 8 at every gate SF. Plan: "
    "codes scan + broadcast table join + one (query, neighbor) "
    "reduce + k-bounded window.",
)
def sim_pq_adc_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    ncode = sim.pq_codebook_size(corpus.count())
    return sim.pq_adc_topk(
        corpus, queries, k=3, n_centroids=ncode
    ).orderBy("query_id", "rank")


def _minhash_est_oracle(
    num_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    seed: int = 42,
) -> str:
    """Replay of the minhash JACCARD ESTIMATOR audit: the same signature
    pipeline as _minhash_oracle, but per candidate pair the output is
    the estimator (matching positions / num_perm, ppm) NEXT TO the
    exact shingle Jaccard and the absolute error — the calibration
    table for choosing num_perm."""
    params = dd._cw_params31(num_perm, seed)
    rpb = num_perm // bands
    p = dd._MERSENNE_P31
    n = shingle_words
    mins = ",\n             ".join(
        f"MIN(((h % {p}) * {a} + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    sent = ",\n             ".join(
        f"COALESCE(m{i}, {-(i + 1)}) AS m{i}" for i in range(num_perm)
    )
    band_eq = " OR ".join(
        "("
        + " AND ".join(
            f"a.m{j} = b.m{j}" for j in range(bi * rpb, (bi + 1) * rpb)
        )
        + ")"
        for bi in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(t="text")} AS tk FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(tk) - {n} + 2),
                       i -> array_to_string(list_slice(tk, i, i + {n - 1}), ' '))
      )) AS s
      FROM toks
    ), hashed AS (
      SELECT doc_id, {_H32.format(s="s")} AS h FROM sh
    ), mins AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ), sigs AS (
      SELECT d.doc_id,
             {sent}
      FROM (SELECT doc_id FROM documents) d LEFT JOIN mins USING (doc_id)
    ), cands AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST((1000000 * ({matches})) // {num_perm} AS BIGINT) AS est_ppm
      FROM sigs a JOIN sigs b
        ON a.doc_id < b.doc_id AND ({band_eq})
    ), szs AS (
      SELECT doc_id, CAST(COUNT(DISTINCT s) AS BIGINT) AS nsh FROM sh GROUP BY 1
    ), inter AS (
      SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS ninter
      FROM cands c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b, c.est_ppm,
           CAST(CASE
             WHEN COALESCE(za.nsh, 0) + COALESCE(zb.nsh, 0)
                  - COALESCE(i.ninter, 0) = 0 THEN 1000000
             ELSE (1000000 * COALESCE(i.ninter, 0))
                  // (COALESCE(za.nsh, 0) + COALESCE(zb.nsh, 0)
                      - COALESCE(i.ninter, 0))
           END AS BIGINT) AS exact_ppm,
           CAST(abs(c.est_ppm - CASE
             WHEN COALESCE(za.nsh, 0) + COALESCE(zb.nsh, 0)
                  - COALESCE(i.ninter, 0) = 0 THEN 1000000
             ELSE (1000000 * COALESCE(i.ninter, 0))
                  // (COALESCE(za.nsh, 0) + COALESCE(zb.nsh, 0)
                      - COALESCE(i.ninter, 0))
           END) AS BIGINT) AS err_ppm
    FROM cands c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    LEFT JOIN szs za ON za.doc_id = c.id_a
    LEFT JOIN szs zb ON zb.doc_id = c.id_b
    """


@register(
    "dedup_minhash_jaccard_est",
    _minhash_est_oracle(),
    "MinHash estimator CALIBRATION audit: for every LSH candidate pair "
    "(64-perm, 16-band — the production dedup_minhash_lsh pipeline), "
    "the signature-agreement Jaccard estimate next to the EXACT "
    "distinct-shingle Jaccard and the absolute error, all in ppm "
    "integers — the table that answers 'is 64 permutations enough for "
    "our near-dup threshold?' without trusting the estimator it "
    "audits. Two empty documents define Jaccard 1 (identical). Exact "
    "intersection joins shingle rows ONLY for candidate pairs "
    "(LSH-bounded, never all-pairs); at 100 TB the audit runs on a "
    "sampled partition of candidates with identical plan shape.",
)
def dedup_minhash_jaccard_est(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.functions.text import word_ngrams

    num_perm = 64
    docs = t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, "doc_id", "text", num_perm=num_perm)
    cands = dd.lsh_candidate_pairs(sigs, num_perm=num_perm, bands=16)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                f"(1000000 * aggregate(zip_with(sig_a, sig_b, "
                f"(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
                f"0L, (acc, v) -> acc + v)) div {num_perm}"
            ).alias("est_ppm"),
        )
    )
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams("text", 3))).alias("s"),
    )
    szs = sh.groupBy("doc_id").agg(F.countDistinct("s").alias("nsh"))
    sh_b = sh.select(
        F.col("doc_id").alias("_bid"), F.col("s").alias("_bs")
    )
    inter = (
        est.select("id_a", "id_b")
        .join(sh.select(F.col("doc_id").alias("id_a"), "s"), "id_a")
        .join(
            sh_b,
            (F.col("id_b") == F.col("_bid")) & (F.col("s") == F.col("_bs")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    uni = (
        F.coalesce(F.col("nsh_a"), F.lit(0))
        + F.coalesce(F.col("nsh_b"), F.lit(0))
        - F.coalesce(F.col("ninter"), F.lit(0))
    )
    exact_ppm = F.when(uni == 0, F.lit(1_000_000)).otherwise(
        F.expr(
            "(1000000 * COALESCE(ninter, 0)) div "
            "(COALESCE(nsh_a, 0) + COALESCE(nsh_b, 0) - COALESCE(ninter, 0))"
        )
    )
    return (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(
            szs.select(F.col("doc_id").alias("id_a"), F.col("nsh").alias("nsh_a")),
            "id_a",
            "left",
        )
        .join(
            szs.select(F.col("doc_id").alias("id_b"), F.col("nsh").alias("nsh_b")),
            "id_b",
            "left",
        )
        .select(
            "id_a",
            "id_b",
            "est_ppm",
            exact_ppm.cast("long").alias("exact_ppm"),
            F.abs(F.col("est_ppm") - exact_ppm).cast("long").alias("err_ppm"),
        )
    )


def _rrf_oracle(terms: list[str], rrf_k: int = 60) -> str:
    """Replay of hybrid retrieval with reciprocal-rank fusion: the BM25
    ranking (same CTEs as _bm25_oracle), the cosine ranking against the
    vec_id=0 query embedding (same _COS_SQL), and the integer RRF blend
    1e6 // (k + rank) summed across rankers."""
    tf_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_{t}"
        for t in terms
    )
    df_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in terms
    )
    score = "\n           + ".join(
        f"(((n_docs - df_{t} + 0.5) / (df_{t} + 0.5)) * "
        f"(tf_{t} * CAST(2.2 AS DOUBLE))) / "
        f"(tf_{t} + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) "
        f"+ CAST(0.75 AS DOUBLE) * p.dl / (CAST(sum_dl AS DOUBLE) / n_docs)))"
        for t in terms
    )
    cos = _COS_SQL.format(a="q.embedding", b="c.embedding")
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl,
         {tf_cols}
      FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         {df_cols}
      FROM perdoc
    ), lex AS (
      SELECT doc_id, lex_rank FROM (
        SELECT p.doc_id,
               ROW_NUMBER() OVER (ORDER BY {score} DESC, p.doc_id)
                 AS lex_rank
        FROM perdoc p, stats
      ) WHERE lex_rank <= 20
    ), sem AS (
      SELECT doc_id, sem_rank FROM (
        SELECT c.vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY {cos} DESC, c.vec_id)
                 AS sem_rank
        FROM embeddings c, (SELECT embedding FROM embeddings
                            WHERE vec_id = 0) q
      ) WHERE sem_rank <= 20
    ), fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             COALESCE(1000000 // ({rrf_k} + l.lex_rank), 0)
             + COALESCE(1000000 // ({rrf_k} + s.sem_rank), 0) AS rrf_micro
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank,
           CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id)
                  AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 10
    """


@register(
    "retrieval_hybrid_rrf",
    _rrf_oracle(_BM25_TERMS),
    "Hybrid retrieval with reciprocal-rank fusion — the RAG-stack "
    "ranker: the BM25 lexical top-20 (text_bm25_score's scorer, terms "
    "as the query) and the embedding cosine top-20 (vec_id 0 as the "
    "query vector, doc_id == vec_id) fuse by integer RRF "
    "(1e6 // (60 + rank), summed across rankers; Cormack et al., "
    "SIGIR'09), final top-10 with doc-id tie-break. Each ranker keeps "
    "its own plan shape (single-shuffle BM25 aggregate; broadcast-"
    "query corpus scan); fusion touches only 2 x 20 rank rows, so at "
    "100 TB the fusion cost is the rankers' cost, nothing more. "
    "Integer RRF keeps the gate exact (float 1/(k+r) sums would be "
    "order-dependent).",
)
def retrieval_hybrid_rrf(spark, sf_dir):
    from pyspark.sql import Window as W

    from youtube_trending_data_pipeline_spark.operators.retrieval import (
        bm25_scores,
    )
    from youtube_trending_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    lex = (
        bm25_scores(docs, _BM25_TERMS, log_idf=False)
        .withColumn(
            "lex_rank",
            F.row_number().over(W.orderBy(F.desc("bm25"), F.asc("doc_id"))),
        )
        .where(F.col("lex_rank") <= 20)
        .select("doc_id", "lex_rank")
    )
    sem = (
        brute_force_topk(
            emb,
            emb.where(F.col("vec_id") == 0).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            k=20,
        )
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank"))
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (
                F.coalesce(
                    F.expr("1000000 div (60 + lex_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr("1000000 div (60 + sem_rank)"), F.lit(0)
                )
            ).alias("rrf_micro"),
        )
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number().over(
                W.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
            ),
        )
        .where(F.col("fused_rank") <= 10)
        .select(
            "doc_id",
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("sem_rank").cast("long").alias("sem_rank"),
            "rrf_micro",
            F.col("fused_rank").cast("long").alias("fused_rank"),
        )
    )


def _ivfadc_oracle(k: int = 3) -> str:
    """Replay of IVFADC end to end: pivot-cell assignment and probing
    (cosine argmax, _COS_SQL), PQ encoding (integer grids), per-query
    distance tables, cell-pruned candidate ADC ranking. Round 10: the
    coarse cells + probe count replay ivf_knobs and the PQ codebook
    (the first ncode = LEAST(256, n_cells) seeds) replays
    pq_codebook_size, all from COUNT(*); assignment ranks by the
    quantized integer dot (the salt-group BLAS kernel's exact
    arithmetic), matching ivf_pivot_topk."""
    dot_seed = _QDOT_SQL.format(a="v.qv", b="s.qv")
    return f"""
    WITH cor AS (
      SELECT vec_id, embedding, {_QGRID_SQL.format(v="embedding")} AS qv
      FROM embeddings WHERE vec_id >= 5
    ), nc AS (
      {_ivf_knob_cte("cor")}
    ), seeds AS (
      SELECT vec_id AS seed_id, qv, rn FROM (
        SELECT vec_id, qv,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM cor
      ) r, nc WHERE r.rn <= nc.n_cells
    ), cells AS (
      SELECT vec_id, seed_id AS cell FROM (
        SELECT v.vec_id, s.seed_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dot_seed} DESC, s.seed_id)
                 AS rn
        FROM cor v, seeds s
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, seed_id AS cell FROM (
        SELECT v.vec_id, s.seed_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dot_seed} DESC, s.seed_id)
                 AS rn
        FROM (SELECT vec_id, {_QGRID_SQL.format(v="embedding")} AS qv
              FROM embeddings WHERE vec_id < 5) v, seeds s
      ) p, nc WHERE p.rn <= nc.probe
    ), comps AS (
      SELECT vec_id, CAST((i - 1) // 16 AS INTEGER) AS sub,
             (i - 1) % 16 AS j,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS q
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
    ), cent AS (
      SELECT vec_id AS centroid_id, sub, j, q FROM comps
      WHERE vec_id IN (SELECT seed_id FROM seeds, nc
                       WHERE seeds.rn <= nc.ncode)
    ), code_scored AS (
      SELECT c.vec_id, c.sub, ct.centroid_id,
             SUM((c.q - ct.q) * (c.q - ct.q)) AS dist
      FROM comps c JOIN cent ct ON c.sub = ct.sub AND c.j = ct.j
      WHERE c.vec_id >= 5
      GROUP BY 1, 2, 3
    ), codes AS (
      SELECT vec_id AS neighbor_id, sub, centroid_id AS code FROM (
        SELECT vec_id, sub, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, centroid_id) AS rn
        FROM code_scored
      ) WHERE rn = 1
    ), cand AS (
      SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
      FROM probes p JOIN cells c ON c.cell = p.cell
    ), dtable AS (
      SELECT qc.vec_id AS query_id, qc.sub, ct.centroid_id AS code,
             SUM((qc.q - ct.q) * (qc.q - ct.q)) AS d
      FROM comps qc JOIN cent ct ON qc.sub = ct.sub AND qc.j = ct.j
      WHERE qc.vec_id < 5
      GROUP BY 1, 2, 3
    ), scored AS (
      SELECT ca.query_id, ca.neighbor_id, SUM(dt.d) AS adc_dist_q
      FROM cand ca
      JOIN codes co ON co.neighbor_id = ca.neighbor_id
      JOIN dtable dt ON dt.query_id = ca.query_id
                    AND dt.sub = co.sub AND dt.code = co.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(adc_dist_q AS BIGINT) AS adc_dist_q,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, adc_dist_q,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist_q, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "sim_ivfadc_topk",
    _ivfadc_oracle(),
    "IVFADC in the exact gate — the capstone of the ANN ladder and the "
    "architecture FAISS ships as its default billion-scale index "
    "(Jegou et al., PAMI'11): IVF pivot-cell pruning composed with PQ "
    "asymmetric-distance ranking over the pruned candidates, reading "
    "ONLY the 16x-compressed code table. Both halves are the "
    "auditable deterministic variants (sim_ivf_pivot_topk's cells, "
    "embedding_pq_encode's codebook), so the oracle replays the "
    "ENTIRE index build + search: cell argmax, PQ encoding, distance "
    "tables, pruned ADC ranking, k=3 with id tie-break. Round 10: "
    "cells/probe/codebook are CORPUS-RELATIVE (ivf_knobs + "
    "pq_codebook_size, oracle-replayed from COUNT(*)); floors "
    "reproduce the old fixed (8, 3, 8) at every gate SF.",
)
def sim_ivfadc_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    n_cells, n_probe = sim.ivf_knobs(corpus.count())
    return sim.ivfadc_topk(
        corpus,
        queries,
        k=3,
        n_cells=n_cells,
        n_probe=n_probe,
        n_centroids=min(256, n_cells),
    ).orderBy("query_id", "rank")


@register(
    "stream_sliding_window_counts",
    """
    SELECT CAST(epoch_us(ts) // 3600000000 - off.o AS BIGINT) AS hour_bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events, (SELECT unnest(range(2)) AS o) off
    GROUP BY 1, 2
    """,
    "Structured Streaming SLIDING windows in the exact gate (the "
    "hopping companion to stream_windowed_counts' tumbling form): "
    "2-hour windows every 1 hour, so each event lands in exactly two "
    "overlapping windows; integer cents inside the stream keep the "
    "overlapping sums exact under any micro-batch split. Epoch-aligned "
    "hops mean window_start = event_hour - {0,1}, which is precisely "
    "how the oracle replays the fan-out (events x 2-row offset spine). "
    "Streaming state is 2x the tumbling case — the size/accuracy knob "
    "sliding windows trade on at 100 TB event volumes.",
)
def stream_sliding_window_counts(spark, sf_dir):
    import os
    import tempfile
    import uuid

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(batch.dtypes).get("ts", "")
    src_dir = tempfile.mkdtemp(prefix="stream-slide-src-")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src_dir)
        .select(
            F.timestamp_micros(ts_micros(ts_dtype)).alias("ts_t"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("vc"),
        )
    )
    agg = (
        stream.withWatermark("ts_t", "4 hours")
        .groupBy(
            F.window(F.col("ts_t"), "2 hours", "1 hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vc").alias("total_cents"),
        )
    )
    name = f"swc_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.expr("unix_micros(window.start) div 3600000000").alias(
            "hour_bucket"
        ),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_cents").cast("long").alias("total_cents"),
    )


def _bfs_oracle(rounds: int = 4) -> str:
    """Unrolled replay of synchronous multi-source BFS distances."""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""
    d{i} AS MATERIALIZED (
      SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, r.dist + 1 AS dist
        FROM edges e JOIN d{i - 1} r ON r.node = e.src
      ) GROUP BY node
    )""")
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000 AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT s AS src, c AS dst FROM pairs
      UNION
      SELECT c AS src, s AS dst FROM pairs
    ),
    d0 AS (
      SELECT DISTINCT s AS node, CAST(0 AS BIGINT) AS dist
      FROM pairs WHERE s % 100 = 0
    ),
    {','.join(steps)}
    SELECT node, dist FROM d{rounds}
    """


@register(
    "graph_bfs_distances",
    _bfs_oracle(4),
    "Multi-source BFS shortest-hop distances (the reachability/"
    "radius query of graph analytics, and the frontier pattern Pregel "
    "was built for): seeds are suppliers with suppkey % 100 = 0 at "
    "distance 0; 4 synchronous rounds of dist(v) = min(dist(v), "
    "min over in-neighbors + 1) over the supplier<->customer graph; "
    "unreached nodes are absent (no sentinel rows to shuffle). All "
    "integer min-aggregates — order-independent, replayed by the "
    "oracle as unrolled CTE rounds (the pagerank/LPA doctrine). Per "
    "round: one equi-join of the frontier onto the static edge list + "
    "one min aggregate; localCheckpoint lineage cuts; src-bucketed "
    "edges make every round's join edge-side shuffle-free.",
)
def graph_bfs_distances(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_suppkey").alias("s"),
            (F.col("o_custkey") + 1000000).alias("c"),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        .union(pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dist = (
        pairs.where(F.col("s") % 100 == 0)
        .select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(4):
        hop = (
            edges.join(dist, edges["src"] == dist["node"])
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(hop)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


@register(
    "f_sql_pipe_syntax",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag
    """,
    "Spark 4 SQL PIPE syntax (|>) in the exact gate: the same scan -> "
    "filter -> aggregate expressed as `FROM lineitem |> WHERE ... |> "
    "AGGREGATE ... GROUP BY ...` — the linear query style SQL:2023's "
    "pipe operators standardize (and BigQuery popularized; the "
    "reference's warehouse dialect). Catalyst compiles pipes to the "
    "identical logical plan as nested SQL, so pushdown and partial "
    "aggregation are unchanged — this entry pins the SURFACE, the "
    "oracle states the classic form.",
)
def f_sql_pipe_syntax(spark, sf_dir):
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("_pipe_lineitem")
    return spark.sql(
        """
        FROM _pipe_lineitem
        |> WHERE l_quantity >= 30
        |> AGGREGATE COUNT(*) AS n,
                     SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                       AS revenue_cents
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, revenue_cents
        """
    )


@register(
    "f_collation_compare",
    """
    SELECT lower(o_orderpriority) AS priority_ci,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT CASE WHEN o_orderkey % 2 = 0
                      THEN upper(o_orderpriority)
                      ELSE lower(o_orderpriority) END AS o_orderpriority
          FROM orders)
    GROUP BY 1
    """,
    "Spark 4 COLLATIONS in the exact gate: a mixed-case priority column "
    "grouped under UTF8_LCASE collation — equality, hashing, and "
    "GROUP BY all respect the case-insensitive collation natively "
    "(pre-collation engines lower() everything, which loses the "
    "original strings and breaks range predicates on mixed data). The "
    "oracle states the classic lower() form; output is normalized "
    "lowercase so both sides hash identically. The collation tag rides "
    "the DATA TYPE, so every downstream operator inherits the "
    "comparison semantics without per-expression wrapping.",
)
def f_collation_compare(spark, sf_dir):
    mixed = t(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderkey") % 2 == 0, F.upper("o_orderpriority")
        )
        .otherwise(F.lower("o_orderpriority"))
        .alias("o_orderpriority")
    )
    ci = mixed.select(
        F.expr("o_orderpriority COLLATE UTF8_LCASE").alias("priority_ci")
    )
    return (
        ci.groupBy("priority_ci")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower("priority_ci").alias("priority_ci"), "n")
    )


@register(
    "j11_interval_overlap_join",
    """
    WITH sess AS (
      SELECT user_id, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
             MIN(epoch_us(ts)) AS s_lo, MAX(epoch_us(ts)) AS s_hi
      FROM events GROUP BY 1, 2
    ), anchor AS (
      SELECT (MIN(epoch_us(ts)) // 3600000000) * 3600000000 AS a
      FROM events
    ), promos AS (
      SELECT CAST(p AS BIGINT) AS promo_id,
             CAST(a + p * 7200000000 AS BIGINT) AS p_lo,
             CAST(a + p * 7200000000 + 5400000000 AS BIGINT) AS p_hi
      FROM range(0, 200) t(p), anchor
    )
    SELECT s.user_id, s.h AS sess_hour, p.promo_id,
           CAST(LEAST(s.s_hi, p.p_hi) - GREATEST(s.s_lo, p.p_lo) AS BIGINT)
             AS overlap_us
    FROM sess s JOIN promos p
      ON s.s_lo <= p.p_hi AND p.p_lo <= s.s_hi
    """,
    "Interval-overlap join (interval x interval, the harder sibling of "
    "j7's point-in-range): per-user hourly activity spans joined to a "
    "generated promo-window calendar on the overlap predicate "
    "(lo <= other.hi AND other.lo <= hi), reporting the exact overlap "
    "in epoch micros — the campaign-attribution / downtime-impact "
    "shape. The promo side is a tiny generated dimension, so Spark "
    "plans a broadcast nested-loop with a 200-row build side — "
    "bounded, not quadratic; at 100 TB both sides bucket by coarse "
    "time cell first (the rangejoin.py prefilter) so the theta join "
    "runs within cells. Integer epoch arithmetic end to end.",
)
def j11_interval_overlap_join(spark, sf_dir):
    sess = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("(ts div 1000) div 3600000000").alias("h"),
            F.expr("ts div 1000").alias("us"),
        )
        .groupBy("user_id", "h")
        .agg(F.min("us").alias("s_lo"), F.max("us").alias("s_hi"))
    )
    anchor = (
        t(spark, sf_dir, "events")
        .agg(
            F.expr("(min(ts div 1000) div 3600000000) * 3600000000").alias("a")
        )
    )
    promos = (
        spark.range(0, 200)
        .crossJoin(F.broadcast(anchor))
        .select(
            F.col("id").alias("promo_id"),
            (F.col("a") + F.col("id") * 7200000000).alias("p_lo"),
            (F.col("a") + F.col("id") * 7200000000 + 5400000000).alias("p_hi"),
        )
    )
    return (
        sess.join(
            F.broadcast(promos),
            (F.col("s_lo") <= F.col("p_hi")) & (F.col("p_lo") <= F.col("s_hi")),
        )
        .select(
            "user_id",
            F.col("h").alias("sess_hour"),
            "promo_id",
            (
                F.least("s_hi", "p_hi") - F.greatest("s_lo", "p_lo")
            ).alias("overlap_us"),
        )
    )


@register(
    "ts_resample_ohlc",
    """
    WITH e AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_bucket,
             epoch_us(ts) AS us, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
    ), w AS (
      SELECT user_id, hour_bucket, vc,
             FIRST_VALUE(vc) OVER win AS open_c,
             LAST_VALUE(vc) OVER win AS close_c
      FROM e
      WINDOW win AS (PARTITION BY user_id, hour_bucket
                     ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, hour_bucket,
           CAST(MIN(open_c) AS BIGINT) AS open_c,
           CAST(MAX(vc) AS BIGINT) AS high_c,
           CAST(MIN(vc) AS BIGINT) AS low_c,
           CAST(MIN(close_c) AS BIGINT) AS close_c,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM w GROUP BY 1, 2
    """,
    "OHLC time-series downsampling: per (user, hour), the opening "
    "value (argmin over (ts, event_id) — the composite key makes the "
    "argmin deterministic under timestamp ties), high, low, close "
    "(argmax), and count, in integer cents — the candlestick resample "
    "every metrics store runs, expressed as ONE hash aggregate with "
    "max_by/min_by ordered-tuple arguments instead of two window "
    "passes. Map-side partials carry (open, high, low, close) per "
    "group, so the shuffle is bucket-sized regardless of event "
    "volume.",
)
def ts_resample_ohlc(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("(ts div 1000) div 3600000000").alias("hour_bucket"),
        F.expr("ts div 1000").alias("us"),
        "event_id",
        cents("value").alias("vc"),
    )
    key = F.struct("us", "event_id")
    return e.groupBy("user_id", "hour_bucket").agg(
        F.min_by("vc", key).alias("open_c"),
        F.max("vc").alias("high_c"),
        F.min("vc").alias("low_c"),
        F.max_by("vc", key).alias("close_c"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "f_sql_udf_inline",
    """
    SELECT o_orderkey,
           CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT) > 0
                THEN CAST((o_orderkey % 1000) + 2 * (o_custkey % 100)
                          AS DOUBLE)
                     / CAST(ROUND(o_totalprice * 100) AS BIGINT) * 1000
                ELSE 0.0 END AS engagement_ratio
    FROM orders
    """,
    "SQL-defined scalar function (CREATE TEMPORARY FUNCTION ... RETURN "
    "expr, Spark 3.4+/4) in the exact gate, carrying the reference's A5 "
    "guarded engagement-ratio formula ((likes + 2*comments)/views*1000 "
    "ELSE 0, agg:79-84): unlike a Python UDF, a SQL UDF INLINES into "
    "the plan at analysis time — whole-stage codegen, pushdown through "
    "it, zero serialization boundary — so it is the right way to "
    "package reusable business formulas on a 100 TB engine. The plan "
    "carries no BatchEvalPython (generic gate) and the oracle states "
    "the inlined expression directly.",
)
def f_sql_udf_inline(spark, sf_dir):
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION eng_ratio_udf("
        "l BIGINT, c BIGINT, v BIGINT) RETURNS DOUBLE "
        "RETURN CASE WHEN v > 0 THEN (l + 2 * c) / v * 1000 "
        "ELSE 0.0 END"
    )
    t(spark, sf_dir, "orders").createOrReplaceTempView("_sqludf_orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               eng_ratio_udf(o_orderkey % 1000, o_custkey % 100,
                             CAST(ROUND(o_totalprice * 100) AS BIGINT))
                 AS engagement_ratio
        FROM _sqludf_orders
        """
    )


@register(
    "attribution_last_touch",
    """
    WITH purchases AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS revenue_c
      FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts,
             MAX(CAST(props->>'k' AS BIGINT) % 5) AS channel
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), attributed AS (
      SELECT p.revenue_c, c.channel
      FROM purchases p
      ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    SELECT COALESCE(CAST(channel AS BIGINT), -1) AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(revenue_c) AS BIGINT) AS revenue_c
    FROM attributed GROUP BY 1
    """,
    "Last-touch marketing attribution — the revenue-allocation query "
    "the reference's analytics warehouse exists to serve: every "
    "purchase's revenue (integer cents) is credited to the CHANNEL of "
    "the user's most recent prior click (channel parsed from the "
    "click's JSON props with the ->>/get_json_object path family, "
    "bucketed to 5 synthetic channels), organic purchases (no prior "
    "click) land in channel -1. Composes the as-of join "
    "(operators/asof.py, j6's union-merge single-shuffle shape) with a "
    "channel-keyed revenue rollup; at 100 TB this is one shuffle on "
    "user_id plus a 5-row aggregate.",
)
def attribution_last_touch(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents
    from youtube_trending_data_pipeline_spark.operators.asof import as_of_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", cents("value").alias("revenue_c")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max(
                F.get_json_object("props", "$.k").cast("long") % 5
            ).alias("channel")
        )
    )
    attributed = as_of_join(
        purchases,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload_cols=["channel"],
    )
    return (
        attributed.select(
            F.coalesce(F.col("asof_channel"), F.lit(-1)).alias("channel"),
            "revenue_c",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("revenue_c").cast("long").alias("revenue_c"),
        )
    )


@register(
    "lang_mismatch_audit",
    f"""
    SELECT lang, lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ({_langid_oracle()})
    GROUP BY lang, lang_pred
    """,
    "Declared-vs-detected language confusion audit: the language-ID "
    "heuristic (text_langid's marker scorer) crossed against each "
    "document's DECLARED lang column as a (declared, predicted) "
    "confusion table — the metadata-trust check a multilingual corpus "
    "runs before per-language sampling quotas consume the labels "
    "(mislabeled crawl segments show up as off-diagonal mass; "
    "systematic detector bias shows up as a column). Same map-side "
    "scorer, one |langs|^2-bounded aggregate.",
)
def lang_mismatch_audit(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "dedup_cluster_size_histogram",
    f"""
    WITH tk AS (
      SELECT doc_id, md5(lower(array_to_string(
        list_filter(str_split_regex(text, '\\s+'), x -> x <> ''), ' ')))
        AS h
      FROM documents
    ), clusters AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM tk GROUP BY h
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable
    FROM clusters GROUP BY cluster_size
    """,
    "Duplicate-cluster size histogram — the dedup IMPACT report read "
    "before running any removal pass: exact-content clusters "
    "(normalized-text hash, the dedup_exact key) bucketed by size, "
    "with cluster counts, covered docs, and the removable-row total "
    "(size - 1 per cluster) per bucket — 'how much does dedup buy us "
    "and is it one mega-cluster or a long tail?'. The answer decides "
    "between plain exact dedup and the near-dup pipeline, and the "
    "mega-cluster tail is exactly what lsh_candidate_pairs' "
    "max_bucket guard defends against. Two hash aggregates, both "
    "map-side partial.",
)
def dedup_cluster_size_histogram(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.dedup import (
        fingerprint,
    )

    clusters = (
        t(spark, sf_dir, "documents")
        .select(fingerprint("text").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("n_removable"),
    )


def _av_sync_oracle() -> str:
    """Replay of the A/V duration audit: audio n_samples/rate and video
    n_frames/fps computed from the same synthesis arithmetic."""
    return """
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST((4 + doc_id % 3) * 1000 // 1000 AS BIGINT) AS audio_ms,
           CAST((2 + doc_id % 2) * 1000 // 10 AS BIGINT) AS video_ms,
           CAST(abs((4 + doc_id % 3) * 1000 // 1000
                    - (2 + doc_id % 2) * 1000 // 10) AS BIGINT) AS drift_ms,
           abs((4 + doc_id % 3) * 1000 // 1000
               - (2 + doc_id % 2) * 1000 // 10) <= 250 AS in_sync
    FROM documents
    """


@register(
    "multimodal_av_sync_audit",
    _av_sync_oracle(),
    "Audio/video duration-sync audit — the container-integrity check a "
    "multimodal training pipeline runs before pairing tracks (a "
    "mismatched mux yields captions drifting off their frames): each "
    "asset carries BOTH a synthetic PCM16 WAV (4 + doc_id%3 samples at "
    "1 kHz) and a Y4M clip (2 + doc_id%2 frames at 10 fps); the REAL "
    "decoders recover each track's duration and the audit reports the "
    "drift and a 250 ms sync verdict (discriminating on this data: 2-frame clips pass, 3-frame clips fail). Exercises both decode kernels in "
    "ONE pass over one media frame — the two mapInPandas lanes join on "
    "asset_id (fixed-width keys). Oracle replays the duration "
    "arithmetic.",
)
def multimodal_av_sync_audit(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        extract_audio_features,
        extract_video_frame_features,
    )

    def sample_hex(i: int):
        v = (F.col("doc_id") * 13 + i * 37) % 2048 - 1024
        u = F.pmod(v, F.lit(65536))
        return F.concat(
            F.lpad(F.hex(u % 256), 2, "0"),
            F.lpad(F.hex(F.floor(u / 256).cast("long")), 2, "0"),
        )

    # audio: variable sample count 4..6 -> rebuild RIFF sizes per doc
    n_samp = (F.col("doc_id") % 3 + 4).cast("int")
    data_hex6 = [sample_hex(i) for i in range(6)]

    def wav_content():
        # RIFF header with per-row data size: assemble hex via concat
        data = F.concat(
            *[
                F.when(F.lit(i) < n_samp, data_hex6[i]).otherwise(F.lit(""))
                for i in range(6)
            ]
        )
        dlen = (n_samp * 2).cast("long")
        rlen = dlen + 36
        le32 = lambda c: F.concat(  # noqa: E731
            F.lpad(F.hex(c % 256), 2, "0"),
            F.lpad(F.hex((c.cast("long") / 256).cast("long") % 256), 2, "0"),
            F.lit("0000"),
        )
        hdr = F.concat(
            F.lit("52494646"), le32(rlen), F.lit("57415645"),
            F.lit("666d7420"), F.lit("10000000"), F.lit("0100"), F.lit("0100"),
            F.lit("e8030000"), F.lit("d0070000"), F.lit("0200"), F.lit("1000"),
            F.lit("64617461"), le32(dlen),
        )
        return F.unhex(F.concat(hdr, data))

    n_frames = (F.col("doc_id") % 2 + 2).cast("int")
    frame_blobs = []
    for f in range(3):
        luma_hex = F.concat(
            *[
                F.lpad(F.hex((F.col("doc_id") * 11 + f * 29 + i * 17) % 256), 2, "0")
                for i in range(4)
            ]
        )
        blob = F.concat(
            F.encode(F.lit("FRAME\n"), "utf-8"),
            F.unhex(F.concat(luma_hex, F.lit("8080"))),
        )
        frame_blobs.append(
            F.when(F.lit(f) < n_frames, blob).otherwise(
                F.encode(F.lit(""), "utf-8")
            )
        )
    video_content = F.concat(
        F.encode(F.lit("YUV4MPEG2 W2 H2 F10:1 Ip A1:1 C420\n"), "utf-8"),
        *frame_blobs,
    )
    docs = t(spark, sf_dir, "documents")
    audio_media = docs.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("audio").alias("media_type"),
        wav_content().alias("content"),
    )
    video_media = docs.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("video").alias("media_type"),
        video_content.alias("content"),
    )
    audio = extract_audio_features(audio_media).select(
        "asset_id",
        F.expr("n_samples * 1000 div sample_rate").alias("audio_ms"),
    )
    video = (
        extract_video_frame_features(video_media, every_ms=100)
        .groupBy("asset_id")
        .agg(
            ((F.max("frame_idx") + 1) * 100).cast("long").alias("video_ms")
        )
    )
    return audio.join(video, "asset_id").select(
        "asset_id",
        "audio_ms",
        "video_ms",
        F.abs(F.col("audio_ms") - F.col("video_ms")).alias("drift_ms"),
        (F.abs(F.col("audio_ms") - F.col("video_ms")) <= 250).alias("in_sync"),
    )


@register(
    "w_pareto_concentration",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), ranked AS (
      SELECT user_id, rev_c,
             ROW_NUMBER() OVER (ORDER BY rev_c DESC, user_id) AS rn,
             SUM(rev_c) OVER (ORDER BY rev_c DESC, user_id
                              ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(rev_c) OVER () AS total_c,
             COUNT(*) OVER () AS n_users
      FROM per_user
    )
    SELECT CAST((10 * rn + n_users - 1) // n_users AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(rev_c) AS BIGINT) AS decile_rev_c,
           CAST(MAX((1000000 * cum_c) // total_c) AS BIGINT)
             AS cum_share_ppm
    FROM ranked GROUP BY 1
    """,
    "Pareto concentration curve (the '80/20' revenue-concentration "
    "audit): per-user purchase revenue ranked descending, bucketed "
    "into deciles by rank (ceil(10*rn/n)), each decile reporting its "
    "revenue and the CUMULATIVE share of total revenue in ppm at its "
    "boundary — 'the top 10% of users carry X% of revenue', the "
    "number that decides whether per-user sampling or capping is "
    "needed before training on behavioral data (extends "
    "w_ratio_to_report's percent-of-group to the cumulative "
    "distribution). One user aggregate + one global-order window over "
    "the user vector (users << events; at corpus scale the same "
    "range-partitioned sort as export_jsonl_manifest).",
)
def w_pareto_concentration(spark, sf_dir):
    from pyspark.sql import Window as W

    from youtube_trending_data_pipeline_spark.catalog import cents

    per_user = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(cents("value")).cast("long").alias("rev_c"))
    )
    w_order = W.orderBy(F.desc("rev_c"), F.asc("user_id"))
    ranked = per_user.select(
        "user_id",
        "rev_c",
        F.row_number().over(w_order).alias("rn"),
        F.sum("rev_c")
        .over(w_order.rowsBetween(W.unboundedPreceding, 0))
        .alias("cum_c"),
        F.sum("rev_c").over(W.partitionBy()).alias("total_c"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n_users"),
    )
    return (
        ranked.select(
            F.expr("(10 * rn + n_users - 1) div n_users").alias("decile"),
            "rev_c",
            F.expr("(1000000 * cum_c) div total_c").alias("share_ppm"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("rev_c").cast("long").alias("decile_rev_c"),
            F.max("share_ppm").alias("cum_share_ppm"),
        )
    )


@register(
    "basket_brand_lift",
    """
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), n_orders AS (
      SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n FROM items
    ), brand_freq AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS f FROM items GROUP BY brand
    ), pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS together
      FROM items a JOIN items b
        ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT p.brand_a, p.brand_b, p.together,
           CAST((1000000 * p.together) // fa.f AS BIGINT)
             AS confidence_a_ppm,
           CAST((1000000 * p.together * n.n) // (fa.f * fb.f) AS BIGINT)
             AS lift_ppm
    FROM pairs p
    JOIN brand_freq fa ON fa.brand = p.brand_a
    JOIN brand_freq fb ON fb.brand = p.brand_b
    CROSS JOIN n_orders n
    WHERE p.together >= 20
    """,
    "Market-basket association on the transactional tables (the "
    "retail twin of token_cooccurrence_pairs): brand pairs bought in "
    "the same order, with support, confidence P(b|a), and LIFT "
    "P(a,b)/(P(a)P(b)) in exact ppm — lift > 1e6 is genuine "
    "association, not popularity (the A-priori reading). Baskets are "
    "distinct (order, brand) rows so quantity doesn't inflate "
    "support; the within-order pair join is bounded by basket size "
    "(25 brands max); support >= 20 is the A-priori prune. The "
    "brand-frequency and order-count joins are broadcast-sized.",
)
def basket_brand_lift(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = items.select("okey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    brand_freq = items.groupBy("brand").agg(F.count(F.lit(1)).alias("f"))
    a = items.select(F.col("okey"), F.col("brand").alias("brand_a"))
    b = items.select(
        F.col("okey").alias("okey2"), F.col("brand").alias("brand_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("okey") == F.col("okey2"))
            & (F.col("brand_a") < F.col("brand_b")),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("together"))
        .where(F.col("together") >= 20)
    )
    return (
        pairs.join(
            F.broadcast(
                brand_freq.select(
                    F.col("brand").alias("brand_a"), F.col("f").alias("fa")
                )
            ),
            "brand_a",
        )
        .join(
            F.broadcast(
                brand_freq.select(
                    F.col("brand").alias("brand_b"), F.col("f").alias("fb")
                )
            ),
            "brand_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "together",
            F.expr("(1000000 * together) div fa").alias("confidence_a_ppm"),
            F.expr("(1000000 * together * n) div (fa * fb)").alias("lift_ppm"),
        )
    )


def _ppr_oracle(iterations: int = 4, scale: int = 1_000_000_000_000) -> str:
    """Unrolled replay of integer personalized PageRank: restart mass to
    seeds only, same BIGINT arithmetic as _pagerank_oracle.

    Node encoding is PARITY-BASED (supplier -> 2*suppkey, customer ->
    2*custkey + 1): the r12 100x sweep caught the old `custkey +
    1000000` offset as an absolute-threshold scale bug — replica
    suppkeys pass 1e6, colliding with the customer id space, and the
    old seed tag `node % 100 = 0 AND node < 1000000` then disagreed
    with the Spark side's `suppkey % 100 = 0` (EXACT at both gate SFs,
    WRONG at 100x). Parity keeps the spaces disjoint at ANY scale and
    the seed tag is a pure function of the supplier id on both
    engines: even node with (node / 2) % 100 = 0."""
    base = 15 * scale // 100
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f"""
    r{i} AS MATERIALIZED (
      SELECT n.node,
             CAST(n.seed * {base} + (85 * COALESCE(s.s, 0)) // 100
                  AS BIGINT) AS rank
      FROM tagged n LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(r.rank // o.outdeg) AS BIGINT) AS s
        FROM edges e
        JOIN r{i-1} r ON r.node = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
    )""")
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT 2 * l_suppkey AS s, 2 * o_custkey + 1 AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT s AS src, c AS dst FROM pairs
      UNION
      SELECT c AS src, s AS dst FROM pairs
    ),
    outdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
               FROM edges GROUP BY src),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    tagged AS (
      SELECT node, CASE WHEN node % 2 = 0 AND (node // 2) % 100 = 0
                        THEN 1 ELSE 0 END AS seed
      FROM nodes
    ),
    r0 AS (SELECT node, CAST(seed * {scale} AS BIGINT) AS rank FROM tagged),
    {','.join(steps)}
    SELECT node, rank FROM r{iterations}
    """


@register(
    "graph_personalized_pagerank",
    _ppr_oracle(),
    "PERSONALIZED PageRank in the exact gate (random walk with restart "
    "to a seed set — Haveliwala WWW'02; the recommender/trust-"
    "propagation variant Pinterest's Pixie runs at scale): restart "
    "mass returns only to seed suppliers (suppkey % 100 = 0), so rank "
    "measures proximity to the seeds instead of global centrality — "
    "rank 0 rows are nodes the walk cannot reach from the seeds, "
    "information uniform PageRank destroys. 4 synchronous integer "
    "rounds over the supplier<->customer graph, same BIGINT doctrine "
    "and per-round join+aggregate shape as graph_pagerank, replayed "
    "by unrolled CTEs.",
)
def graph_personalized_pagerank(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.graph import (
        personalized_pagerank_integer,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # parity node encoding (2s / 2c+1): disjoint id spaces at ANY
    # scale — the old custkey + 1e6 offset collided once replica
    # suppkeys passed 1e6 and silently diverged from the oracle's
    # seed tag (r12 100x catch; see _ppr_oracle)
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    # no distinct after the union — disjoint parities
    edges = (
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        .union(pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")))
    )
    seeds = pairs.where(F.expr("(s div 2) % 100 = 0")).select(
        F.col("s").alias("node")
    )
    return personalized_pagerank_integer(edges, seeds, iterations=4)


@register(
    "embedding_health_audit",
    """
    WITH norms AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
                    * CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)))
               AS BIGINT) AS norm_q
      FROM embeddings
    ), med AS (
      SELECT CAST(floor(median(norm_q)) AS BIGINT) AS med_q FROM norms
    ), dev AS (
      SELECT n.vec_id, n.norm_q, abs(n.norm_q - m.med_q) AS adev, m.med_q
      FROM norms n, med m
    ), mad AS (
      SELECT CAST(floor(median(adev)) AS BIGINT) AS mad_q FROM dev
    )
    SELECT d.vec_id, d.norm_q,
           d.norm_q = 0 AS is_zero,
           (d.adev > 5 * NULLIF(ma.mad_q, 0)) IS TRUE AS is_outlier
    FROM dev d, mad ma
    """,
    "Embedding-health audit before any index build: per-vector exact "
    "quantized squared norm, zero-vector flag (dead encoder outputs "
    "poison cosine math — cosine_similarity guards them, this finds "
    "them), and a robust norm-outlier flag (> 5 MADs from the corpus "
    "median — collapsed or exploded encodings). The vector QA sibling "
    "of events_anomaly_mad, run on embeddings instead of values; "
    "constant-MAD corpora flag nothing via the NULLIF guard. Norm is "
    "a zero-shuffle map; the median/MAD pair are two 1-row "
    "aggregates broadcast back.",
)
def embedding_health_audit(spark, sf_dir):
    qsq = F.aggregate(
        F.col("embedding"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(x.cast("double") * 10000 + F.lit(0.5))
        * F.floor(x.cast("double") * 10000 + F.lit(0.5)),
    )
    norms = t(spark, sf_dir, "embeddings").select(
        "vec_id", qsq.alias("norm_q")
    )
    med = norms.agg(
        F.floor(F.expr("median(norm_q)")).cast("long").alias("med_q")
    )
    dev = norms.crossJoin(F.broadcast(med)).select(
        "vec_id",
        "norm_q",
        F.abs(F.col("norm_q") - F.col("med_q")).alias("adev"),
    )
    mad = dev.agg(
        F.floor(F.expr("median(adev)")).cast("long").alias("mad_q")
    )
    return dev.crossJoin(F.broadcast(mad)).select(
        "vec_id",
        "norm_q",
        (F.col("norm_q") == 0).alias("is_zero"),
        F.coalesce(
            F.col("adev")
            > 5 * F.when(F.col("mad_q") != 0, F.col("mad_q")),
            F.lit(False),
        ).alias("is_outlier"),
    )


@register(
    "crawl_politeness_schedule",
    """
    WITH u AS (
      SELECT doc_id,
             lower(source) || '.example.com' AS domain
      FROM documents
    ), ranked AS (
      SELECT doc_id, domain,
             ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) - 1
               AS rn
      FROM u
    )
    SELECT doc_id, domain,
           CAST(rn % 4 AS BIGINT) AS worker,
           CAST(rn // 4 AS BIGINT) AS time_slot
    FROM ranked
    """,
    "Crawl-frontier politeness scheduling: per domain, pending fetches "
    "are assigned round-robin to 4 workers and consecutive TIME SLOTS "
    "(slot = rank div workers), so no domain ever sees more than "
    "'workers' concurrent requests and each domain's fetch times "
    "spread evenly — the per-host rate limit every polite crawler "
    "enforces, expressed as a deterministic partition-ordered window "
    "instead of a queueing service. One shuffle on domain; the slot "
    "arithmetic is pure projection. Companion to url_domain_stats "
    "(which measures the frontier this schedules) and "
    "domain_quota_sample (which caps it).",
)
def crawl_politeness_schedule(spark, sf_dir):
    from pyspark.sql import Window as Wd

    u = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lower("source"), F.lit(".example.com")).alias("domain"),
    )
    ranked = u.withColumn(
        "rn",
        F.row_number().over(Wd.partitionBy("domain").orderBy("doc_id")) - 1,
    )
    return ranked.select(
        "doc_id",
        "domain",
        (F.col("rn") % 4).cast("long").alias("worker"),
        F.expr("rn div 4").cast("long").alias("time_slot"),
    )


@register(
    "multimodal_content_sniff",
    """
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CASE doc_id % 4 WHEN 0 THEN 'ppm'
                           WHEN 1 THEN 'wav'
                           WHEN 2 THEN 'y4m'
                           ELSE 'unknown' END AS sniffed,
           CAST(CASE doc_id % 4 WHEN 0 THEN 23
                                WHEN 1 THEN 52
                                WHEN 2 THEN 47
                                ELSE 9 END AS BIGINT) AS n_bytes
    FROM documents
    """,
    "Content-type sniffing over binary media columns — the ingestion "
    "triage that routes each asset to the right decoder WITHOUT "
    "trusting file extensions or metadata (the reference's raw lake "
    "stores verbatim payloads; a real lake stores mislabeled blobs): "
    "magic bytes ('P6' PPM, 'RIFF' WAV, 'YUV4MPEG2' Y4M, else "
    "unknown/quarantine) matched ENTIRELY JVM-side via binary "
    "substring + hex comparison — no Python worker touches the bytes "
    "until a decoder is chosen, so the sniff costs a codegen "
    "projection at any scale. Assets are synthesized per doc in all "
    "four classes (including garbage); the oracle replays the "
    "synthesis rule while the Spark side derives the verdict from "
    "the actual BYTES — disagreement means the sniffer broke.",
)
def multimodal_content_sniff(spark, sf_dir):
    mod = F.col("doc_id") % 4
    ppm = F.concat(
        F.encode(F.lit("P6\n2 2\n255\n"), "utf-8"),
        F.unhex(F.concat(*[
            F.lpad(F.hex((F.col("doc_id") * 7 + i * 13) % 256), 2, "0")
            for i in range(12)
        ])),
    )
    wav = F.concat(
        F.unhex(F.lit(_wav_header_hex())),
        F.unhex(F.lit("00" * 8)),
    )
    y4m = F.concat(
        F.encode(F.lit("YUV4MPEG2 W2 H2 F10:1 Ip A1:1 C420\n"), "utf-8"),
        F.encode(F.lit("FRAME\n"), "utf-8"),
        F.unhex(F.lit("00" * 6)),
    )
    junk = F.encode(F.lit("notmedia!"), "utf-8")
    content = (
        F.when(mod == 0, ppm)
        .when(mod == 1, wav)
        .when(mod == 2, y4m)
        .otherwise(junk)
    )
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        content.alias("content"),
    )
    head = lambda n: F.hex(F.substring(F.col("content"), 1, n))  # noqa: E731
    sniffed = (
        F.when(head(2) == F.lit("5036"), "ppm")            # 'P6'
        .when(head(4) == F.lit("52494646"), "wav")          # 'RIFF'
        .when(head(9) == F.lit("595556344D50454732"), "y4m")  # 'YUV4MPEG2'
        .otherwise("unknown")
    )
    return media.select(
        "asset_id",
        sniffed.alias("sniffed"),
        F.length("content").cast("long").alias("n_bytes"),
    )


@register(
    "multimodal_transcode_roundtrip",
    """
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST(23 AS BIGINT) AS in_bytes,
           CAST(14 + 40 + 16 AS BIGINT) AS out_bytes,
           TRUE AS pixels_equal
    FROM documents
    """,
    "Media transcoding with round-trip verification: the synthetic 2x2 "
    "P6 assets decode with the real PPM parser, re-encode through a "
    "REAL minimal BMP writer (encode_bmp: BI_RGB headers, bottom-up "
    "BGR rows, 4-byte padding), decode back with the real BMP parser, "
    "and every pixel must survive bit-for-bit — the storage-format "
    "normalization pass (PPM 23 B -> BMP 70 B for a 2x2: header-"
    "dominated at this size; at real resolutions BMP is the "
    "fixed-overhead one). The oracle states the exact sizes and the "
    "all-TRUE verdict — any codec asymmetry breaks the hash. "
    "Completes the multimodal codec story with a WRITE path.",
)
def multimodal_transcode_roundtrip(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        transcode_ppm_to_bmp,
    )

    pixel_hex = F.concat(
        *[
            F.lpad(F.hex((F.col("doc_id") * 7 + i * 13) % 256), 2, "0")
            for i in range(12)
        ]
    )
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.concat(
            F.encode(F.lit("P6\n2 2\n255\n"), "utf-8"), F.unhex(pixel_hex)
        ).alias("content"),
    )
    return transcode_ppm_to_bmp(media).orderBy("asset_id")


def _ivfadc_residual_oracle(k: int = 3) -> str:
    """Replay of RESIDUAL-encoding IVFADC end to end (the true Jegou
    formulation — sim_ivfadc_topk's oracle encodes raw vectors): pivot
    cells + probes by quantized integer dot, per-vector residual
    components (grid minus the OWN cell seed's grid — exact int64),
    residual codebook = residuals of the ncode corpus vectors by id
    AFTER the seeds, per-(query, probed-cell) distance tables, cell-
    pruned ADC ranking. Knobs replay ivf_knobs / pq_codebook_size from
    COUNT(*), same as the raw variant."""
    dot_seed = _QDOT_SQL.format(a="v.qv", b="s.qv")
    return f"""
    WITH cor AS (
      SELECT vec_id, embedding, {_QGRID_SQL.format(v="embedding")} AS qv
      FROM embeddings WHERE vec_id >= 5
    ), nc AS (
      {_ivf_knob_cte("cor")}
    ), rnk AS (
      SELECT vec_id, qv, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
      FROM cor
    ), seeds AS (
      SELECT vec_id AS seed_id, qv FROM rnk, nc WHERE rn <= nc.n_cells
    ), cells AS (
      SELECT vec_id, seed_id AS cell FROM (
        SELECT v.vec_id, s.seed_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dot_seed} DESC, s.seed_id)
                 AS rn
        FROM cor v, seeds s
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, seed_id AS cell FROM (
        SELECT v.vec_id, s.seed_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dot_seed} DESC, s.seed_id)
                 AS rn
        FROM (SELECT vec_id, {_QGRID_SQL.format(v="embedding")} AS qv
              FROM embeddings WHERE vec_id < 5) v, seeds s
      ) p, nc WHERE p.rn <= nc.probe
    ), comps AS (
      SELECT vec_id, CAST((i - 1) // 16 AS INTEGER) AS sub,
             (i - 1) % 16 AS j,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS q
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
    ), rescomp AS (
      -- corpus residual components: grid(x) - grid(seed of cell(x))
      SELECT c.vec_id, c.sub, c.j, c.q - sc.q AS q
      FROM comps c
      JOIN cells ce ON ce.vec_id = c.vec_id
      JOIN comps sc ON sc.vec_id = ce.cell AND sc.sub = c.sub
                   AND sc.j = c.j
    ), cb AS (
      -- residual codebook: the ncode corpus vectors by id AFTER the
      -- seeds (seed residuals are ~0 and would waste codewords)
      SELECT rc.vec_id AS code_id, rc.sub, rc.j, rc.q
      FROM rescomp rc, rnk r, nc
      WHERE rc.vec_id = r.vec_id
        AND r.rn > nc.n_cells AND r.rn <= nc.n_cells + nc.ncode
    ), code_scored AS (
      SELECT rc.vec_id, rc.sub, cb.code_id,
             SUM((rc.q - cb.q) * (rc.q - cb.q)) AS dist
      FROM rescomp rc JOIN cb ON cb.sub = rc.sub AND cb.j = rc.j
      GROUP BY 1, 2, 3
    ), codes AS (
      SELECT vec_id AS neighbor_id, sub, code_id AS code FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, code_id) AS rn
        FROM code_scored
      ) WHERE rn = 1
    ), qres AS (
      -- query residual components PER PROBED CELL
      SELECT p.query_id, p.cell, qc.sub, qc.j, qc.q - sc.q AS q
      FROM probes p
      JOIN comps qc ON qc.vec_id = p.query_id
      JOIN comps sc ON sc.vec_id = p.cell AND sc.sub = qc.sub
                   AND sc.j = qc.j
    ), dtable AS (
      SELECT qr.query_id, qr.cell, qr.sub, cb.code_id AS code,
             SUM((qr.q - cb.q) * (qr.q - cb.q)) AS d
      FROM qres qr JOIN cb ON cb.sub = qr.sub AND cb.j = qr.j
      GROUP BY 1, 2, 3, 4
    ), cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id, c.cell
      FROM probes p JOIN cells c ON c.cell = p.cell
    ), scored AS (
      SELECT ca.query_id, ca.neighbor_id, SUM(dt.d) AS adc_dist_q
      FROM cand ca
      JOIN codes co ON co.neighbor_id = ca.neighbor_id
      JOIN dtable dt ON dt.query_id = ca.query_id AND dt.cell = ca.cell
                    AND dt.sub = co.sub AND dt.code = co.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id,
           CAST(adc_dist_q AS BIGINT) AS adc_dist_q,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, adc_dist_q,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist_q, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "sim_ivfadc_residual_topk",
    _ivfadc_residual_oracle(),
    "RESIDUAL-encoding IVFADC — the true Jegou et al. (PAMI'11) "
    "formulation and the round-10 completion of the ANN ladder: PQ "
    "encodes x - centroid(cell(x)) instead of the raw vector, and "
    "each query builds a distance table PER PROBED CELL from its own "
    "residual. Residuals concentrate near the origin, so the shared "
    "codebook covers them better than raw vectors at the same code "
    "budget (sim_ivfadc_topk keeps the raw auditable variant for "
    "comparison). Fully deterministic: residual = exact int64 grid "
    "subtraction (no second quantization), codebook = residuals of "
    "the ncode corpus vectors by id AFTER the seeds, argmin ties to "
    "the smallest codeword id — the oracle replays build + search "
    "end to end. Knobs are corpus-relative (ivf_knobs / "
    "pq_codebook_size from COUNT(*)). Scan side at 100 TB is the "
    "16x-compressed code table pruned to n_probe/n_cells of the "
    "corpus; the per-cell distance tables stay a query-bounded "
    "broadcast.",
)
def sim_ivfadc_residual_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    n_cells, n_probe = sim.ivf_knobs(corpus.count())
    return sim.ivfadc_residual_topk(
        corpus,
        queries,
        k=3,
        n_cells=n_cells,
        n_probe=n_probe,
        n_centroids=min(256, n_cells),
    ).orderBy("query_id", "rank")


def _wav_header_hex_n(n_samples: int) -> str:
    """RIFF/WAVE header for ``n_samples`` of 16-bit mono PCM at 1 kHz,
    as a hex literal (the _wav_header_hex shape, parameterized)."""
    import struct

    data = 2 * n_samples
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + data) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 1000, 2000, 2, 16)
        + b"data" + struct.pack("<I", data)
    )
    return hdr.hex()


_AFP_N = 16  # samples per synthetic clip -> 15 fingerprint bits


def _audio_fp_oracle() -> str:
    """Replay of the decode->fingerprint path: sample i of a doc's clip
    is ((doc_id%40)*53 + 101)*i % 2048 - 1024 + (doc_id%5)*3 — a shared
    per-class sawtooth (class-dependent FREQUENCY, so wrap positions
    and hence delta signs differ across classes: 36 distinct
    fingerprints over the 40 classes, including two genuine collisions)
    plus a PER-DOC DC offset, so clip BYTES differ within a class (md5
    dedup finds nothing) while sign-of-delta bits are identical (the
    offset cancels in every comparison)."""
    def s(i: int) -> str:
        return (
            f"(((((doc_id % 40) * 53 + 101) * {i}) % 2048) - 1024"
            f" + (doc_id % 5) * 3)"
        )

    bits = " + ".join(
        f"(CASE WHEN {s(i + 1)} > {s(i)} THEN {1 << i} ELSE 0 END)"
        for i in range(_AFP_N - 1)
    )
    return f"""
    WITH hashed AS (
      SELECT doc_id, CAST({bits} AS BIGINT) AS fp FROM documents
    )
    SELECT fp,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS members
    FROM hashed GROUP BY fp
    """


@register(
    "multimodal_audio_fingerprint_dedup",
    _audio_fp_oracle(),
    "Multimodal near-dup AUDIO dedup — the audio twin of "
    "multimodal_image_dhash_dedup: per-doc synthetic 16-sample 16-bit "
    "PCM WAV (real RIFF bytes, built JVM-side) where docs in the same "
    "doc_id%40 class share a waveform but carry a PER-DOC DC offset, "
    "so byte-level dedup (md5) finds nothing while the sign-of-delta "
    "fingerprint (the Chromaprint family's deterministic skeleton: one "
    "bit per consecutive-sample comparison, DC- and gain-invariant) "
    "groups them -> Arrow-batched mapInPandas running the REAL RIFF "
    "chunk-walking decoder, then ONE hash aggregate keeping the "
    "smallest doc_id. At 100 TB fingerprints bucket by hamming bands "
    "exactly like dedup_simhash; decoded samples never shuffle (the "
    "kernel emits 1 long per clip). Oracle recomputes decode + "
    "fingerprint arithmetic bit-for-bit.",
)
def multimodal_audio_fingerprint_dedup(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        audio_sign_fingerprint,
    )

    def sample_hex(i: int):
        v = (
            ((F.pmod(F.col("doc_id"), F.lit(40)) * 53 + 101) * i) % 2048
            - 1024
            + F.pmod(F.col("doc_id"), F.lit(5)) * 3
        )
        u = F.pmod(v, F.lit(65536))
        return F.concat(
            F.lpad(F.hex(u % 256), 2, "0"),
            F.lpad(F.hex(F.floor(u / 256).cast("long")), 2, "0"),
        )

    data_hex = F.concat(*[sample_hex(i) for i in range(_AFP_N)])
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("audio").alias("media_type"),
        F.concat(
            F.unhex(F.lit(_wav_header_hex_n(_AFP_N))), F.unhex(data_hex)
        ).alias("content"),
    )
    hashed = audio_sign_fingerprint(media).select(
        F.col("asset_id").cast("long").alias("doc_id"), "fp"
    )
    return hashed.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.min("doc_id").alias("keeper_id"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("members"),
    )


def _minhash_recall_oracle() -> str:
    """Composes the REGISTERED dedup_minhash_lsh oracle as a subquery
    (the sim_pq_recall_audit doctrine: the audit can never drift from
    what the index entry computes) against the exact ground truth:
    token-3-shingle Jaccard >= 0.5 as the INTEGER rational predicate
    3*|A∩B| >= |A| + |B| over the shingle-posting join (every J > 0
    pair shares a shingle, so the posting join finds ALL qualifying
    pairs — no blind all-pairs)."""
    lsh = _minhash_oracle()
    return f"""
    WITH lshp AS (
      SELECT id_a, id_b FROM ({lsh})
    ), toks2 AS (
      SELECT doc_id, {_TOKS.format(t="text")} AS tk FROM documents
    ), sh2 AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct(
               list_transform(range(1, len(tk) - 1),
                 i -> array_to_string(list_slice(tk, i, i + 2), ' '))
             )) AS s
      FROM toks2 WHERE len(tk) >= 3
    ), cnt2 AS (
      SELECT doc_id, COUNT(*) AS c FROM sh2 GROUP BY doc_id
    ), common2 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nc
      FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), exact2 AS (
      SELECT co.id_a, co.id_b
      FROM common2 co
      JOIN cnt2 ca ON ca.doc_id = co.id_a
      JOIN cnt2 cb ON cb.doc_id = co.id_b
      WHERE 3 * co.nc >= ca.c + cb.c
    ), flags AS (
      SELECT COALESCE(e.id_a, l.id_a) AS id_a,
             COALESCE(e.id_b, l.id_b) AS id_b,
             CASE WHEN e.id_a IS NULL THEN 0 ELSE 1 END AS in_e,
             CASE WHEN l.id_a IS NULL THEN 0 ELSE 1 END AS in_l
      FROM exact2 e FULL OUTER JOIN lshp l
        ON e.id_a = l.id_a AND e.id_b = l.id_b
    )
    SELECT CAST(COALESCE(SUM(in_e), 0) AS BIGINT) AS n_exact,
           CAST(COALESCE(SUM(in_l), 0) AS BIGINT) AS n_lsh,
           CAST(COALESCE(SUM(in_e * in_l), 0) AS BIGINT) AS n_common,
           CAST(1000000 * COALESCE(SUM(in_e * in_l), 0)
                // GREATEST(COALESCE(SUM(in_e), 0), 1) AS BIGINT)
             AS recall_ppm,
           CAST(1000000 * COALESCE(SUM(in_e * in_l), 0)
                // GREATEST(COALESCE(SUM(in_l), 0), 1) AS BIGINT)
             AS precision_ppm
    FROM flags
    """


@register(
    "dedup_minhash_recall_audit",
    _minhash_recall_oracle(),
    "MinHash-LSH recall/precision audit — the dedup family's member of "
    "the recall-audit trio (sim_pq_recall_audit, "
    "graph_mutual_knn_recall_audit): the REGISTERED dedup_minhash_lsh "
    "pipeline's pairs vs the EXACT token-3-shingle Jaccard >= 0.5 "
    "ground truth, as one row of (n_exact, n_lsh, n_common, "
    "recall_ppm, precision_ppm). Ground truth uses the integer "
    "rational predicate 3*|A∩B| >= |A|+|B| over the shingle-POSTING "
    "self-join — every J > 0 pair shares a shingle, so the posting "
    "join finds all qualifying pairs without blind all-pairs (at "
    "100 TB a df-capped posting head drops boilerplate shingles "
    "first, the standard CCNet mitigation — a J >= 0.5 pair that "
    "shares ONLY above-cap shingles is boilerplate by definition). "
    "Both sides integer-exact; ppm by integer division. This is the "
    "number that decides the (bands, rows) setting: 64-perm/16-band "
    "at threshold 0.5 should sit near the S-curve knee.",
)
def dedup_minhash_recall_audit(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    docs = t(spark, sf_dir, "documents")
    lsh = (
        QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir)
        .select("id_a", "id_b")
    )
    tk = F.filter(
        F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")
    )
    sh = (
        docs.select("doc_id", tk.alias("tk"))
        .where(F.expr("size(tk) >= 3"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(tk) - 2), "
                        "i -> array_join(slice(tk, i, 3), ' '))"
                    )
                )
            ).alias("s"),
        )
        .distinct()
    )
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .where(F.expr("a.doc_id < b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    exact = (
        common.join(cnt.select(F.col("doc_id").alias("id_a"),
                               F.col("c").alias("ca")), "id_a")
        .join(cnt.select(F.col("doc_id").alias("id_b"),
                         F.col("c").alias("cb")), "id_b")
        .where(F.expr("3 * nc >= ca + cb"))
        .select("id_a", "id_b")
    )
    flags = (
        exact.withColumn("in_e", F.lit(1))
        .join(lsh.withColumn("in_l", F.lit(1)), ["id_a", "id_b"], "full_outer")
        .select(
            F.coalesce("in_e", F.lit(0)).alias("in_e"),
            F.coalesce("in_l", F.lit(0)).alias("in_l"),
        )
    )
    return flags.agg(
        F.coalesce(F.sum("in_e"), F.lit(0)).cast("long").alias("n_exact"),
        F.coalesce(F.sum("in_l"), F.lit(0)).cast("long").alias("n_lsh"),
        F.coalesce(F.sum(F.col("in_e") * F.col("in_l")), F.lit(0))
        .cast("long").alias("n_common"),
    ).select(
        "n_exact",
        "n_lsh",
        "n_common",
        F.expr(
            "CAST(1000000 * n_common div GREATEST(n_exact, 1) AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(1000000 * n_common div GREATEST(n_lsh, 1) AS BIGINT)"
        ).alias("precision_ppm"),
    )


# sampled ground-truth knob for the PRODUCTION form of the recall audit:
# the exact-Jaccard ground truth is restricted to a deterministic
# hash-sampled doc subset of ~this many docs (corpus-relative fraction,
# replayed from COUNT(*) on both engines), so its posting self-join stays
# BOUNDED while the audited LSH pipeline runs full-corpus.  200 < the
# 500-doc gate corpus, so the sampling path is exercised at every SF.
_GT_SAMPLE_TARGET = 200
# portable hash32 (same construction as catalog_curation._H32_SPARK /
# _H32_DUCK — inlined here because catalog_ext registers BEFORE
# catalog_curation in the canonical chain, so a module-top import would
# reorder the registry)
_H32S = "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) AS BIGINT)"
_H32D = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)"


def _minhash_recall_sampled_oracle() -> str:
    """Sampled production form of ``_minhash_recall_oracle``: the
    ground-truth side runs over the deterministic hash sample only (the
    per-doc keep predicate ``h32 % 1e6 < thr`` with ``thr`` replayed
    from COUNT(*)); the LSH side is the REGISTERED full-corpus pipeline
    oracle, filtered to sampled-endpoint pairs for the comparison."""
    lsh = _minhash_oracle()
    return f"""
    WITH thr AS (
      SELECT CAST(LEAST(1000000,
                        (1000000 * {_GT_SAMPLE_TARGET})
                          // GREATEST(COUNT(*), 1))
             AS BIGINT) AS thr
      FROM documents
    ), samp AS (
      SELECT doc_id, text FROM documents, thr
      WHERE {_H32D} % 1000000 < thr
    ), lshp AS (
      SELECT l.id_a, l.id_b FROM ({lsh}) l
      JOIN samp sa ON sa.doc_id = l.id_a
      JOIN samp sb ON sb.doc_id = l.id_b
    ), toks2 AS (
      SELECT doc_id, {_TOKS.format(t="text")} AS tk FROM samp
    ), sh2 AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct(
               list_transform(range(1, len(tk) - 1),
                 i -> array_to_string(list_slice(tk, i, i + 2), ' '))
             )) AS s
      FROM toks2 WHERE len(tk) >= 3
    ), cnt2 AS (
      SELECT doc_id, COUNT(*) AS c FROM sh2 GROUP BY doc_id
    ), common2 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nc
      FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), exact2 AS (
      SELECT co.id_a, co.id_b
      FROM common2 co
      JOIN cnt2 ca ON ca.doc_id = co.id_a
      JOIN cnt2 cb ON cb.doc_id = co.id_b
      WHERE 3 * co.nc >= ca.c + cb.c
    ), flags AS (
      SELECT CASE WHEN e.id_a IS NULL THEN 0 ELSE 1 END AS in_e,
             CASE WHEN l.id_a IS NULL THEN 0 ELSE 1 END AS in_l
      FROM exact2 e FULL OUTER JOIN lshp l
        ON e.id_a = l.id_a AND e.id_b = l.id_b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sampled_docs,
           CAST(COALESCE(SUM(in_e), 0) AS BIGINT) AS n_exact,
           CAST(COALESCE(SUM(in_l), 0) AS BIGINT) AS n_lsh,
           CAST(COALESCE(SUM(in_e * in_l), 0) AS BIGINT) AS n_common,
           CAST(1000000 * COALESCE(SUM(in_e * in_l), 0)
                // GREATEST(COALESCE(SUM(in_e), 0), 1) AS BIGINT)
             AS recall_ppm,
           CAST(1000000 * COALESCE(SUM(in_e * in_l), 0)
                // GREATEST(COALESCE(SUM(in_l), 0), 1) AS BIGINT)
             AS precision_ppm
    FROM flags
    """


@register(
    "dedup_minhash_recall_audit_sampled",
    _minhash_recall_sampled_oracle(),
    "PRODUCTION form of dedup_minhash_recall_audit (VERDICT r10 item "
    "2): the exact shingle-Jaccard ground truth — the one side of the "
    "audit that grows with the corpus — is restricted to a "
    "deterministic hash-sampled doc subset of ~_GT_SAMPLE_TARGET docs "
    "(portable md5-hash32 keep predicate, threshold replayed from "
    "COUNT(*) on both engines, so the sample is corpus-relative and "
    "bit-reproducible), while the audited dedup_minhash_lsh pipeline "
    "still runs FULL-corpus exactly as production would; its pairs are "
    "filtered to sampled endpoints for the compare. Recall/precision "
    "over the sampled sub-population estimate the full-corpus numbers "
    "(uniform sampling is unbiased over pairs within the sample); the "
    "unsampled entry remains the gate-scale measurement tool. At "
    "100 TB the ground-truth join is bounded by the FIXED sample "
    "size, so audit cost tracks the LSH pipeline itself (~1x), not "
    "the corpus-squared ground truth.",
)
def dedup_minhash_recall_audit_sampled(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    docs = t(spark, sf_dir, "documents")
    thr = docs.agg(
        F.expr(
            f"CAST(LEAST(1000000, (1000000 * {_GT_SAMPLE_TARGET}) "
            "div GREATEST(count(*), 1)) AS BIGINT)"
        ).alias("thr")
    )
    samp = (
        docs.crossJoin(F.broadcast(thr))
        .where(F.expr(f"pmod({_H32S}, 1000000) < thr"))
        .select("doc_id", "text")
    )
    samp_ids = samp.select("doc_id")
    lsh = (
        QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir)
        .select("id_a", "id_b")
        .join(
            F.broadcast(samp_ids.select(F.col("doc_id").alias("id_a"))),
            "id_a",
            "semi",
        )
        .join(
            F.broadcast(samp_ids.select(F.col("doc_id").alias("id_b"))),
            "id_b",
            "semi",
        )
    )
    tk = F.filter(
        F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")
    )
    sh = (
        samp.select("doc_id", tk.alias("tk"))
        .where(F.expr("size(tk) >= 3"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(tk) - 2), "
                        "i -> array_join(slice(tk, i, 3), ' '))"
                    )
                )
            ).alias("s"),
        )
        .distinct()
    )
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .where(F.expr("a.doc_id < b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    exact = (
        common.join(cnt.select(F.col("doc_id").alias("id_a"),
                               F.col("c").alias("ca")), "id_a")
        .join(cnt.select(F.col("doc_id").alias("id_b"),
                         F.col("c").alias("cb")), "id_b")
        .where(F.expr("3 * nc >= ca + cb"))
        .select("id_a", "id_b")
    )
    flags = (
        exact.withColumn("in_e", F.lit(1))
        .join(lsh.withColumn("in_l", F.lit(1)), ["id_a", "id_b"], "full_outer")
        .select(
            F.coalesce("in_e", F.lit(0)).alias("in_e"),
            F.coalesce("in_l", F.lit(0)).alias("in_l"),
        )
    )
    n_samp = samp_ids.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled_docs")
    )
    return (
        flags.agg(
            F.coalesce(F.sum("in_e"), F.lit(0)).cast("long").alias("n_exact"),
            F.coalesce(F.sum("in_l"), F.lit(0)).cast("long").alias("n_lsh"),
            F.coalesce(F.sum(F.col("in_e") * F.col("in_l")), F.lit(0))
            .cast("long").alias("n_common"),
        )
        .crossJoin(F.broadcast(n_samp))
        .select(
            "n_sampled_docs",
            "n_exact",
            "n_lsh",
            "n_common",
            F.expr(
                "CAST(1000000 * n_common div GREATEST(n_exact, 1) AS BIGINT)"
            ).alias("recall_ppm"),
            F.expr(
                "CAST(1000000 * n_common div GREATEST(n_lsh, 1) AS BIGINT)"
            ).alias("precision_ppm"),
        )
    )


@register(
    "split_leakage_free_components",
    """
    WITH RECURSIVE grams AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(1, GREATEST(length(text) - 2, 0) + 1),
                           i -> substr(text, CAST(i AS INT), 3))) AS g
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM grams a JOIN grams b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0
                 THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.g, b.g)))
                 ELSE 0.0 END >= 0.6
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, root) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
           CASE
             WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id)
                              AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7','8','9','a','b')
               THEN 'train'
             WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id)
                              AS VARCHAR)), 1, 1) IN ('c','d')
               THEN 'valid'
             ELSE 'test'
           END AS split
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
    "Leakage-FREE train/valid/test split: the hash split keyed by the "
    "near-dup COMPONENT instead of the doc — sample_hash_split's id "
    "hash sends two near-duplicate documents to different splits "
    "~25% of the time (silent eval contamination: the model sees the "
    "answer's twin in training), so the split key must be the "
    "dedup-cluster representative. Composes dedup_components' closure "
    "(char-3-gram Jaccard >= 0.6 pairs, min-label propagation; "
    "singleton docs are their own component) with the same md5-nibble "
    "12/2/2 assignment. STRUCTURAL guarantee: same component -> same "
    "key -> same split, so no near-dup pair ever straddles. Oracle = "
    "the recursive-CTE closure + the same hash projection. The exact "
    "char-gram candidate join stops loudly past gate scale (the "
    "quadratic guard, confirmed at the 100x replica) — the PRODUCTION "
    "form is split_leakage_free_lsh, which keys by the MinHash-LSH "
    "star closure instead.",
)
def split_leakage_free_components(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.components import (
        connected_components,
    )

    docs = t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(
        docs, "doc_id", "text", ["source"], n=3
    ).where(F.col("jaccard") >= 0.6)
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    keyed = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )
    nib = F.substring(F.md5(F.col("component").cast("string")), 1, 1)
    return keyed.select(
        "doc_id",
        "component",
        F.when(
            nib.isin(*"0123456789ab"), F.lit("train")
        )
        .when(nib.isin("c", "d"), F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def _split_lsh_oracle() -> str:
    """Composition doctrine: the split key replays the REGISTERED
    dedup_components_lsh closure (itself the full MinHash-LSH replay),
    then the same md5-nibble 12/2/2 projection as
    split_leakage_free_components."""
    return f"""
    SELECT d.doc_id,
           CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
           CASE
             WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id)
                              AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7','8','9','a','b')
               THEN 'train'
             WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id)
                              AS VARCHAR)), 1, 1) IN ('c','d')
               THEN 'valid'
             ELSE 'test'
           END AS split
    FROM documents d LEFT JOIN ({_components_lsh_oracle()}) c
      ON c.node = d.doc_id
    """


@register(
    "split_leakage_free_lsh",
    _split_lsh_oracle(),
    "PRODUCTION form of split_leakage_free_components (round 12): the "
    "leakage-free train/valid/test split keyed by the MinHash-LSH "
    "near-dup component instead of the exact char-3-gram one — the "
    "char-gram entry composes ngram_jaccard_pairs, whose within-source "
    "quadratic guard fires BY DESIGN once a source block passes "
    "max_block_rows (25 k-row blocks at the 100x replica), exactly "
    "like dedup_components vs dedup_components_lsh. This entry "
    "composes the REGISTERED dedup_components_lsh star closure "
    "(banded equi-join candidates, O(log n) star rounds, raises on "
    "non-convergence) with the same md5-nibble 12/2/2 assignment; "
    "singleton docs key by their own id. STRUCTURAL guarantee "
    "unchanged: same component -> same key -> same split. Oracle "
    "composes the full LSH-closure replay with the hash projection.",
)
def split_leakage_free_lsh(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    docs = t(spark, sf_dir, "documents")
    comp = QUERIES["dedup_components_lsh"].fn(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    keyed = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )
    nib = F.substring(F.md5(F.col("component").cast("string")), 1, 1)
    return keyed.select(
        "doc_id",
        "component",
        F.when(
            nib.isin(*"0123456789ab"), F.lit("train")
        )
        .when(nib.isin("c", "d"), F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
