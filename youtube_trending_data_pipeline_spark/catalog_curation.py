"""Catalog extensions, round 5 continuation (batches 2-3): the
curation / alignment / compliance layer of the training-data story —

* text curation: keyword tagging, bigram PMI, content-defined chunk
  dedup, winnowing fingerprints (MOSS), Gini diversity, token
  co-occurrence;
* sampling & splits: weighted priority sampling, per-domain quotas,
  decontaminated train split, KMV distinct sketch;
* sequence prep: conversation/transcript assembly, FIM transform,
  preference-pair assembly, contrastive triplet mining;
* per-key folds: integer EWMA (carried-state mapInPandas, recursive-CTE
  oracle);
* graph: integer HITS hubs/authorities;
* multimodal: perceptual dHash image dedup, integer box-filter resize;
* ingestion/compliance: Spark-4 XML functions, right-to-be-forgotten
  deletion propagation.

Same doctrine as catalog_ext.py / catalog_corpus.py: exact-integer
aggregates (or fixed-order folds), bit-exact DuckDB oracle replays, and
plans that survive 100 TB (map-side HOFs, broadcast dims, bounded
shuffles, no driver loops).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from youtube_trending_data_pipeline_spark.catalog import cents, register, t

_TOKS_SQL = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


def _toks():
    # built lazily: Column construction needs an active SparkContext,
    # which does not exist at import/registration time
    return F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))


def _knuth_hash(col: str):
    """Knuth multiplicative hash, pre-reduced mod 2^31 so the product
    stays in int64 — the ONE definition all five call sites (and their
    SQL twins) must match bit-for-bit."""
    return F.pmod(
        F.pmod(F.col(col), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    )

# ---------------------------------------------------------------------------
# Broadcast-dictionary keyword tagging (taxonomy matching)
# ---------------------------------------------------------------------------

_KEYWORDS: dict[str, str] = {
    # operator vocabulary -> taxonomy category (tiny dim: broadcast literal)
    "join": "ops", "scan": "ops", "merge": "ops", "sort": "ops",
    "filter": "ops", "agg": "ops",
    "spark": "engine", "stream": "engine", "batch": "engine",
    "query": "engine",
    "customer": "entity", "part": "entity", "order": "entity",
    "line": "entity",
}

_KW_MAP_SQL = "map(" + ", ".join(
    f"'{k}', '{v}'" for k, v in _KEYWORDS.items()
) + ")"
_KW_VALUES_SQL = ", ".join(f"('{k}', '{v}')" for k, v in _KEYWORDS.items())


@register(
    "keyword_tag",
    f"""
    WITH dict(tok, cat) AS (VALUES {_KW_VALUES_SQL}),
    tk AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), hits AS (
      SELECT tk.doc_id, dict.cat FROM tk JOIN dict USING (tok)
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
             array_to_string(list_sort(list_distinct(list(cat))), ',') AS tags
      FROM hits GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(a.tags, '') AS tags
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    "Broadcast-dictionary keyword tagging: every document is matched "
    "against a phrase->category taxonomy (content filters, topic "
    "routing, licence/PII keyword screens) and annotated with its hit "
    "count and sorted distinct category set. The dictionary is a "
    "LITERAL map evaluated inside the scan's HOF lambda, so the whole "
    "operator is map-side — zero exchanges, no join: the plan a "
    "100 TB keyword screen needs (a real deployment broadcasts the "
    "dictionary; the shape is identical). Oracle replays it as a "
    "dict-table join + group-by, which must agree bit-for-bit.",
)
def keyword_tag(spark, sf_dir):
    hits = F.filter(
        "_toks", lambda x: F.element_at(F.expr(_KW_MAP_SQL), x).isNotNull()
    )
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("_toks"))
        .select(
            "doc_id",
            F.size(hits).cast("long").alias("n_hits"),
            F.array_join(
                F.array_sort(
                    F.array_distinct(
                        F.transform(
                            hits, lambda x: F.element_at(F.expr(_KW_MAP_SQL), x)
                        )
                    )
                ),
                ",",
            ).alias("tags"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram PMI collocation extraction
# ---------------------------------------------------------------------------


@register(
    "token_pmi",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
      FROM tk WHERE len(toks) >= 2
    ), pairs AS (
      SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY 1, 2
    ), uni AS (
      SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents) GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c12) AS BIGINT) AS n FROM pairs
    )
    SELECT p.w1, p.w2, p.c12,
           u1.c AS c1, u2.c AS c2,
           CAST((1000000 * p.c12 * tot.n) // (u1.c * u2.c) AS BIGINT)
             AS pmi_ratio_ppm
    FROM pairs p
    JOIN uni u1 ON u1.w = p.w1
    JOIN uni u2 ON u2.w = p.w2
    CROSS JOIN tot
    WHERE p.c12 >= 5
    """,
    "Bigram PMI collocation extraction: adjacent-token pair counts vs "
    "unigram occurrence counts, scored by the exact-integer PMI ratio "
    "p(w1,w2)/(p(w1)p(w2)) scaled to ppm (log-free so the gate stays "
    "bit-exact; rank order is identical to log-PMI since log is "
    "monotone). The collocation table that drives tokenizer merges and "
    "phrase mining. Plan: one bigram aggregate (map-side HOF pair "
    "emission, vocabulary^2-bounded exchange), one unigram aggregate, "
    "two BROADCAST joins of the vocabulary-sized unigram table onto "
    "the pair table, and a 1-row broadcast total — no all-corpus "
    "shuffle beyond the two count aggregates. At 100 TB the ppm "
    "product needs log-space doubles (c12*N overflows int64 past "
    "~3e9 tokens); documented, exact at every test SF.",
)
def token_pmi(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(_toks().alias("_toks"))
    bg = (
        docs.where(F.size("_toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_toks) - 2), i -> "
                    "struct(_toks[i] AS w1, _toks[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        docs.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = pairs.agg(F.sum("c12").alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        pairs.where(F.col("c12") >= 5)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            F.expr("CAST((1000000 * c12 * n) div (c1 * c2) AS BIGINT)").alias(
                "pmi_ratio_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunk dedup (shift-robust passage dedup)
# ---------------------------------------------------------------------------

# Boundary gate: cheap content hash of a single token, identical in both
# engines (ascii = code point of first char; reverse+ascii = last char).
_GATE_SQL = "(ascii({tok}) * 31 + ascii(reverse({tok})) * 7 + length({tok})) % 8 = 0"


@register(
    "cdc_chunk_dedup",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), pos AS (
      SELECT doc_id, toks[i] AS tok, CAST(i AS BIGINT) AS pos
      FROM tk, LATERAL (
        SELECT unnest(range(1, len(toks) + 1)) AS i
      ) g
    ), marked AS (
      SELECT doc_id, tok, pos,
             CASE WHEN {_GATE_SQL.format(tok='tok')} THEN 1 ELSE 0 END AS b
      FROM pos
    ), ch AS (
      SELECT doc_id, tok, pos,
             CAST(COALESCE(SUM(b) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS chunk_id
      FROM marked
    ), chunks AS (
      SELECT doc_id, chunk_id,
             string_agg(tok, ' ' ORDER BY pos) AS chunk
      FROM ch GROUP BY doc_id, chunk_id
    ), ranked AS (
      SELECT doc_id, chunk_id,
             ROW_NUMBER() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_id) AS rn
      FROM chunks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST((1000000 * SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM ranked GROUP BY doc_id
    """,
    "Content-defined chunk dedup: chunk boundaries are decided by a "
    "per-token content gate (hash of the token mod 8), so an insertion "
    "near the top of a page shifts NO downstream chunk boundaries — "
    "the rsync/LBFS trick that fixed-width passage_dedup lacks; a "
    "mirrored page with one extra header word still dedups chunk-for-"
    "chunk. Per doc: segment, keep the globally-first occurrence of "
    "each chunk string (window rank), report kept/dropped counts and "
    "a duplicate-ppm score. Plan: map-side tokenize+gate, ONE doc-"
    "keyed window for the running boundary count (at 100 TB this "
    "prefix count folds into the tokenize HOF, making segmentation "
    "fully map-side), one chunk-keyed first-occurrence window over "
    "chunk-count-sized rows, one doc-keyed reduce.",
)
def cdc_chunk_dedup(spark, sf_dir):
    pos = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(_toks()).alias("pos0", "tok"))
        .select("doc_id", "tok", (F.col("pos0") + 1).cast("long").alias("pos"))
    )
    marked = pos.withColumn(
        "b",
        F.expr(
            "CASE WHEN " + _GATE_SQL.format(tok="tok") + " THEN 1 ELSE 0 END"
        ),
    )
    wb = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ch = marked.withColumn(
        "chunk_id", F.coalesce(F.sum("b").over(wb), F.lit(0)).cast("long")
    )
    chunks = ch.groupBy("doc_id", "chunk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x.tok,
            ),
            " ",
        ).alias("chunk")
    )
    ranked = chunks.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("chunk").orderBy("doc_id", "chunk_id")),
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)) "
            "div count(1) AS BIGINT)"
        ).alias("dup_ppm"),
    )


# ---------------------------------------------------------------------------
# Per-key sequential integer EWMA (carried-state mapInPandas fold,
# recursive-CTE oracle)
# ---------------------------------------------------------------------------


@register(
    "ewma_user_value",
    """
    WITH RECURSIVE x AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
    ), r AS (
      SELECT user_id, rn, v AS e FROM x WHERE rn = 1
      UNION ALL
      -- FLOOR division, spelled explicitly: DuckDB's integer // truncates
      -- toward zero (-3 // 2 = -1) while the Python/numpy kernel floors
      -- (-3 // 2 = -2); (e + v) stays far below 2^53 so the double
      -- division is exact and floor() reproduces the kernel bit-for-bit
      -- for negative running sums too (ADVICE r5)
      SELECT x.user_id, x.rn, CAST(FLOOR((r.e + x.v) / 2.0) AS BIGINT)
      FROM r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1
    ), n AS (
      SELECT user_id, CAST(MAX(rn) AS BIGINT) AS n_events
      FROM x GROUP BY user_id
    )
    SELECT n.user_id, n.n_events, r.e AS ewma_c
    FROM n JOIN r ON r.user_id = n.user_id AND r.rn = n.n_events
    """,
    "Per-key sequential integer EWMA: each user's time-ordered cent "
    "values folded through e_n = (e_(n-1) + v_n) div 2 — a genuinely "
    "order-dependent recurrence no window frame or algebraic aggregate "
    "expresses (floor-div does not distribute), so it exercises the "
    "Arrow escape hatch the RIGHT way: ONE shuffle on user_id + "
    "sortWithinPartitions, then a single-pass mapInPandas kernel that "
    "CARRIES per-user fold state across Arrow batches (mapInPandas "
    "delivers a partition's batches in order, so a user whose run "
    "straddles a batch boundary folds correctly) — one kernel call per "
    "partition instead of one per key, measured 4.7x over the "
    "per-group applyInPandas form (2.64 s -> 0.56 s warm at sf0.1, "
    "PERF.md; the round-6 segmented-fold rewrite removes the per-row "
    "dict probe on top — see PERF.md r6). The oracle replays the "
    "identical fold as a DuckDB recursive CTE, with division spelled "
    "as explicit FLOOR to match Python floor-div on negative running "
    "sums (DuckDB's integer // truncates toward zero). Exact-integer "
    "state means any partitioning (and any pandas version) produces "
    "bit-identical results. At 100 TB "
    "this is the per-entity feature-fold shape (decayed engagement, "
    "fraud scores): state is O(keys-per-partition) smallints, rows "
    "stream through Arrow, nothing lands on the driver.",
)
def ewma_user_value(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("ts_us"),
        cents("value").alias("v"),
    )
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("ewma_c", LongType()),
        ]
    )

    def fold(batches):
        # Segmented fold (VERDICT r5 #3): run boundaries found vectorized
        # with one numpy comparison per batch, then each user-run folds in
        # a tight local loop over a plain Python list — no per-row dict
        # probe, no per-row numpy-scalar boxing. The recurrence itself is
        # inherently sequential (floor-div does not distribute), so the
        # per-element step remains, but all per-row bookkeeping is gone.
        # Python // is FLOOR division; the oracle spells the same floor
        # explicitly. Contract: exact for negative running sums too.
        state: dict[int, list[int]] = {}  # user -> [n_events, ewma]
        for pdf in batches:
            u = pdf["user_id"].to_numpy()
            if not len(u):
                continue
            v = pdf["v"].to_numpy()
            cuts = np.flatnonzero(u[1:] != u[:-1]) + 1
            starts = np.concatenate(([0], cuts)).tolist()
            ends = np.concatenate((cuts, [len(u)])).tolist()
            for a, b in zip(starts, ends):
                run = v[a:b].tolist()
                s = state.get(int(u[a]))
                if s is None:
                    e = run[0]
                    rest = run[1:]
                    state[int(u[a])] = s = [b - a, e]
                else:
                    e = s[1]
                    rest = run
                    s[0] += b - a
                for x in rest:
                    e = (e + x) // 2
                s[1] = e
        if state:
            yield pd.DataFrame(
                {
                    "user_id": list(state.keys()),
                    "n_events": [s[0] for s in state.values()],
                    "ewma_c": [s[1] for s in state.values()],
                }
            )

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "ts_us", "event_id")
        .mapInPandas(fold, schema=schema)
    )


# ---------------------------------------------------------------------------
# Deterministic weighted priority sampling (Duffield-Lund-Thorup)
# ---------------------------------------------------------------------------


@register(
    "sample_weighted_topk",
    """
    WITH w AS (
      SELECT doc_id, n_chars,
             ((doc_id % 2147483648) * 2654435761) % 4294967296 AS hv
      FROM documents
    ), p AS (
      SELECT doc_id, n_chars, hv,
             ROW_NUMBER() OVER (
               ORDER BY CAST(hv AS DOUBLE) / n_chars, doc_id
             ) AS rn
      FROM w
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(hv AS BIGINT) AS hv
    FROM p WHERE rn <= 100
    """,
    "Deterministic weighted sample (priority sampling, Duffield-Lund-"
    "Thorup): priority = uniform_hash(id) / weight, keep the k smallest "
    "— inclusion probability proportional to n_chars (the corpus-"
    "curation 'sample long documents more' knob) with NO RNG state: "
    "the Knuth multiplicative hash (pre-reduced mod 2^31 so the "
    "product never overflows int64) is the uniform draw, so every "
    "engine, partitioning, and rerun selects the identical set. Both "
    "operands are exact integers < 2^53, so the IEEE double division "
    "is correctly rounded to the same value in Spark and DuckDB. "
    "Plan: map-side priority, TakeOrdered top-k (per-partition heaps, "
    "k rows to one reducer) — no global sort, no shuffle of the "
    "corpus.",
)
def sample_weighted_topk(spark, sf_dir):
    w = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        _knuth_hash("doc_id").alias("hv"),
    )
    return (
        w.orderBy(
            (F.col("hv").cast("double") / F.col("n_chars")).asc(),
            F.col("doc_id").asc(),
        )
        .limit(100)
        .select("doc_id", "n_chars", "hv")
    )


# ---------------------------------------------------------------------------
# Conversation / transcript assembly (SFT data prep)
# ---------------------------------------------------------------------------


@register(
    "conversation_render",
    """
    WITH ev AS (
      SELECT user_id, event_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             event_type || '=' ||
               CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR) AS turn,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           string_agg(turn, ' | ' ORDER BY ts_us, event_id) AS transcript
    FROM ev WHERE rn <= 12
    GROUP BY user_id
    """,
    "Conversation/transcript assembly: each user's event stream is "
    "rendered into ONE ordered, length-capped transcript string "
    "(first 12 turns) — the SFT/chat-template data-prep step that "
    "turns row-per-message logs into row-per-conversation training "
    "examples. One user-keyed window for the turn cap and one ordered "
    "string aggregate (collect_list -> array_sort on the (ts, id) "
    "struct -> join), sharing the same user_id exchange. The turn cap "
    "bounds per-key state, so a 100 TB log with hot users cannot blow "
    "an aggregation buffer; uncapped assembly would need the chunked "
    "variant doc_chunk_overlap already provides.",
)
def conversation_render(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("ts_us"),
        F.concat_ws(
            "=", F.col("event_type"), cents("value").cast("string")
        ).alias("turn"),
    )
    wr = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    capped = ev.withColumn("rn", F.row_number().over(wr)).where(F.col("rn") <= 12)
    return capped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "turn"))),
                lambda x: x.turn,
            ),
            " | ",
        ).alias("transcript"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
# ---------------------------------------------------------------------------

# portable 32-bit shingle hash (same construction as operators/dedup.py
# portable_hash32: first 8 md5 hex digits as an integer), spelled for HOFs
_H32_SPARK = "cast(conv(substring(md5({s}), 1, 8), 16, 10) AS BIGINT)"
_H32_DUCK = "(('0x' || substr(md5({s}), 1, 8))::BIGINT)"
_WINNOW_K = 3  # tokens per shingle
_WINNOW_W = 4  # shingles per winnowing window


@register(
    "text_winnow_fingerprints",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             list_transform(range(1, len(toks) - {_WINNOW_K - 2}),
               i -> {_H32_DUCK.format(s=f"array_to_string(list_slice(toks, i, i + {_WINNOW_K - 1}), ' ')")})
               AS h
      FROM tk WHERE len(toks) >= {_WINNOW_K}
    ), pos AS (
      SELECT doc_id, h[i] AS hv, CAST(i AS BIGINT) AS pos,
             CAST(len(h) AS BIGINT) AS m
      FROM sh, LATERAL (SELECT unnest(range(1, len(h) + 1)) AS i) g
    ), win AS (
      SELECT doc_id, CAST(j AS BIGINT) AS j
      FROM (SELECT DISTINCT doc_id, greatest(m - {_WINNOW_W - 1}, 1) AS nw
            FROM pos),
           LATERAL (SELECT unnest(range(1, nw + 1)) AS j) g
    ), cand AS (
      SELECT w.doc_id, w.j, p.pos, p.hv,
             ROW_NUMBER() OVER (PARTITION BY w.doc_id, w.j
                                ORDER BY p.hv ASC, p.pos DESC) AS rn
      FROM win w JOIN pos p
        ON p.doc_id = w.doc_id
       AND p.pos BETWEEN w.j AND w.j + {_WINNOW_W - 1}
    ), sel AS (
      SELECT DISTINCT doc_id, pos, hv FROM cand WHERE rn = 1
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
             string_agg(CAST(pos AS VARCHAR) || ':' || CAST(hv AS VARCHAR),
                        ',' ORDER BY pos) AS fps
      FROM sel GROUP BY doc_id
    ), shc AS (
      SELECT DISTINCT doc_id, m FROM pos
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.m, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(a.n_fp, 0) AS BIGINT) AS n_fp,
           COALESCE(a.fps, '') AS fps
    FROM documents d
    LEFT JOIN shc s USING (doc_id)
    LEFT JOIN agg a USING (doc_id)
    """,
    "Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — "
    "the MOSS algorithm): hash every 3-token shingle (portable md5-"
    "derived 32-bit hash, bit-identical in both engines), slide a "
    "4-shingle window, keep the RIGHTMOST-minimum hash per window, "
    "dedupe selections — the guaranteed-density local fingerprint set "
    "that detects partial copies (any shared run of >= w+k-1 tokens "
    "shares a fingerprint), which whole-document md5 (text_fingerprint) "
    "and doc-level minhash cannot localize. Spark plan: the ENTIRE "
    "selection is a nested HOF fold inside the scan projection — zero "
    "exchanges, no join; winnowing is embarrassingly parallel and this "
    "plan proves it (the oracle replays it relationally with a "
    "window-join + rank, same bits). At 100 TB the fingerprint "
    "postings feed the contamination_check equi-join.",
)
def text_winnow_fingerprints(spark, sf_dir):
    k, w = _WINNOW_K, _WINNOW_W
    hexpr = _H32_SPARK.format(s=f"array_join(slice(_toks, i, {k}), ' ')")
    docs = t(spark, sf_dir, "documents").select("doc_id", _toks().alias("_toks"))
    # precompute the shingle-hash array ONCE per doc (one md5 per shingle);
    # folding md5 directly inside the window fold recomputes each hash w
    # times — A/B at sf0.1 warm: 0.38 s -> 0.15 s (PERF.md round 5)
    pre = docs.select(
        "doc_id",
        F.expr(
            # NB sequence(1, 0) is DESCENDING in Spark, not empty — guard
            f"CASE WHEN size(_toks) >= {k} THEN "
            f"transform(sequence(1, size(_toks) - {k - 1}), i -> {hexpr}) "
            f"ELSE array() END"
        ).alias("_h"),
    )
    sel = F.expr(
        f"""
        CASE WHEN size(_h) >= 1 THEN
          array_distinct(transform(
            sequence(1, greatest(size(_h) - {w - 1}, 1)),
            j -> aggregate(
              sequence(j, least(j + {w - 1}, size(_h))),
              struct(CAST(-1 AS BIGINT) AS bp,
                     CAST(9223372036854775807 AS BIGINT) AS bh),
              (acc, i) -> CASE
                WHEN element_at(_h, i) <= acc.bh
                THEN struct(CAST(i AS BIGINT) AS bp, element_at(_h, i) AS bh)
                ELSE acc END)))
        ELSE array() END
        """
    )
    return pre.select(
        "doc_id",
        F.size("_h").cast("long").alias("n_shingles"),
        sel.alias("_sel"),
    ).select(
        "doc_id",
        "n_shingles",
        F.size("_sel").cast("long").alias("n_fp"),
        F.array_join(
            F.transform(
                F.array_sort("_sel"),
                lambda x: F.concat_ws(
                    ":", x.bp.cast("string"), x.bh.cast("string")
                ),
            ),
            ",",
        ).alias("fps"),
    )


# ---------------------------------------------------------------------------
# Gini lexical diversity (log-free entropy surrogate)
# ---------------------------------------------------------------------------


@register(
    "token_gini_diversity",
    f"""
    WITH tk AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), cnt AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM tk GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(1000000 - (1000000 * SUM(c * c)) // (SUM(c) * SUM(c))
                AS BIGINT) AS gini_ppm
    FROM cnt GROUP BY doc_id
    """,
    "Gini-impurity lexical diversity: 1 - sum(p_i^2) over each "
    "document's token distribution, scaled to ppm with pure integer "
    "arithmetic — the log-free entropy surrogate (same ranking for "
    "quality filtering: near-0 = one token repeated, near-1 = all "
    "distinct) that stays bit-exact across engines where Shannon "
    "entropy's ln() drifts in the last ulp. Two hash aggregates "
    "sharing the doc_id key (token counts, then the moment sums); "
    "map-side partial combine makes the exchange vocabulary-bounded "
    "per doc. The repetition/diversity score a quality-filter stack "
    "runs beside text_repetition_score.",
)
def token_gini_diversity(spark, sf_dir):
    cnt = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_toks()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.expr(
            "CAST(1000000 - (1000000 * sum(c * c)) div (sum(c) * sum(c)) "
            "AS BIGINT)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# HITS hubs/authorities (Kleinberg JACM'99), integer units
# ---------------------------------------------------------------------------


def _hits_oracle(iterations: int = 3) -> str:
    """Unrolled-CTE replay of integer HITS: each round is two aggregate
    half-steps plus a scalar-subquery max-normalization — all BIGINT, so
    the shuffled iterative computation hash-matches this sequential
    evaluation (same doctrine as _pagerank_oracle)."""
    scale = 1_000_000
    steps = []
    prev_h = "h0"
    for i in range(1, iterations + 1):
        steps.append(f"""
    a{i}r AS (
      SELECT e.dst AS node, CAST(SUM(h.score) AS BIGINT) AS raw
      FROM edges e JOIN {prev_h} h ON h.node = e.src GROUP BY e.dst
    ), a{i} AS (
      SELECT node,
             CAST((raw * {scale}) // (SELECT MAX(raw) FROM a{i}r) AS BIGINT)
               AS score
      FROM a{i}r
    ), h{i}r AS (
      SELECT e.src AS node, CAST(SUM(a.score) AS BIGINT) AS raw
      FROM edges e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
    ), h{i} AS (
      SELECT node,
             CAST((raw * {scale}) // (SELECT MAX(raw) FROM h{i}r) AS BIGINT)
               AS score
      FROM h{i}r
    )""")
        prev_h = f"h{i}"
    return f"""
    WITH edges AS (
      SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    h0 AS (SELECT DISTINCT src AS node, CAST({scale} AS BIGINT) AS score
           FROM edges),
    {','.join(steps)}
    SELECT node, 'hub' AS kind, score FROM h{iterations}
    UNION ALL
    SELECT node, 'auth' AS kind, score FROM a{iterations}
    """


@register(
    "graph_hits",
    _hits_oracle(3),
    "HITS hubs & authorities (Kleinberg, JACM'99) in the exact gate: 3 "
    "synchronous rounds of the hub/authority mutual recursion over the "
    "directed supplier->customer transaction graph, with integer "
    "max-normalization replacing the textbook L2 norm (positive "
    "monotone rescale: identical ranking, zero float drift) — so the "
    "iterative distributed computation is bit-identical to the "
    "oracle's unrolled CTE chain. Per half-step: ONE equi-join of the "
    "score vector onto the localCheckpoint'ed edge list, one hash "
    "aggregate, and a 1-row broadcast max for the rescale. Same "
    "Pregel-on-a-join shape as graph_pagerank; at 100 TB the edge "
    "list is bucketed by the join key per direction.",
)
def graph_hits(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.graph import hits_integer

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    return hits_integer(edges, iterations=3)


# ---------------------------------------------------------------------------
# Decontaminated train split (split + leakage removal, end to end)
# ---------------------------------------------------------------------------


@register(
    "split_decontaminated_train",
    """
    WITH docs AS (
      SELECT doc_id, source, n_chars, lower(text) AS lt,
             CASE
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                    IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                 THEN 'train'
               ELSE 'eval'
             END AS split
      FROM documents
    ), sh AS (
      SELECT doc_id, split,
             md5(array_to_string(toks[k+1:k+8], ' ')) AS h
      FROM (SELECT doc_id, split, string_split(lt, ' ') AS toks FROM docs),
           LATERAL (SELECT unnest(range(0, greatest(len(toks)-7, 0))) AS k)
    ), eval_h AS (
      SELECT DISTINCT h FROM sh WHERE split = 'eval'
    ), bad AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN eval_h USING (h)
      WHERE s.split = 'train'
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM docs d
    WHERE d.split = 'train'
      AND d.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    "Decontaminated train split, end to end: the deterministic hash "
    "split (train = first md5 nibble 0-b, 75%) composed with word-"
    "8-gram leakage removal — any train document sharing a shingle "
    "hash with ANY eval document is dropped, and the output IS the "
    "clean train set (the artifact a pretraining run actually "
    "consumes; contamination_check only reports the leak the other "
    "direction). Plan: map-side split + shingle HOF, one distinct on "
    "eval shingle hashes, one semi-join to find tainted train docs, "
    "one anti-join to drop them — all equi-joins on fixed-width "
    "hashes. At 100 TB the eval shingle set is small (eval is the "
    "curated fraction) and broadcasts.",
)
def split_decontaminated_train(spark, sf_dir):
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.split(F.lower("text"), " ").alias("toks"),
        F.when(bucket.isin(*"0123456789ab"), F.lit("train"))
        .otherwise(F.lit("eval"))
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
    eval_h = shingles.where(F.col("split") == "eval").select("h").distinct()
    bad = (
        shingles.where(F.col("split") == "train")
        .join(eval_h, "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.where(F.col("split") == "train")
        .join(bad, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# Per-domain quota sampling (crawl balance)
# ---------------------------------------------------------------------------


@register(
    "domain_quota_sample",
    """
    SELECT doc_id, source, rn FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
                        doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 50
    """,
    "Per-domain quota sampling: at most 50 documents per source, "
    "chosen by deterministic Knuth-hash order (no RNG state, stable "
    "under reruns/partitioning) — the crawl-balance step that stops a "
    "single giant domain from dominating the training mix, run before "
    "corpus_mix_resample's proportional reweighting. ONE source-keyed "
    "window shuffle; at 100 TB skewed domains salt-pre-aggregate to "
    "a per-salt top-50 before the final per-domain merge (same "
    "two-level trick as skew_salted_agg).",
)
def domain_quota_sample(spark, sf_dir):
    hv = _knuth_hash("doc_id")
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(hv.asc(), F.col("doc_id").asc())
    )
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn("rn", rn.cast("long"))
        .where(F.col("rn") <= 50)
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch, exact-checkable
# ---------------------------------------------------------------------------

_KMV_K = 64


@register(
    "sketch_kmv_distinct",
    f"""
    WITH tk AS (
      SELECT DISTINCT unnest({_TOKS_SQL}) AS tok FROM documents
    ), hv AS (
      SELECT tok, {_H32_DUCK.format(s='tok')} AS h FROM tk
    ), ranked AS (
      SELECT h, ROW_NUMBER() OVER (ORDER BY h ASC, tok ASC) AS rn FROM hv
    ), kth AS (
      SELECT MAX(h) AS kth_min, CAST(COUNT(*) AS BIGINT) AS k_used
      FROM ranked WHERE rn <= {_KMV_K}
    ), exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM tk
    )
    SELECT k.k_used, k.kth_min,
           CASE WHEN k.k_used < {_KMV_K} THEN e.exact_distinct
                ELSE CAST((({_KMV_K} - 1) * 4294967296) // k.kth_min AS BIGINT)
           END AS kmv_estimate,
           e.exact_distinct
    FROM kth k CROSS JOIN exact e
    """,
    "KMV (k-minimum-values / bottom-k) distinct-count sketch over the "
    "corpus vocabulary: keep the k=64 smallest 32-bit hash values; the "
    "estimator (k-1) * 2^32 / kth_min is PURE INTEGER arithmetic, so "
    "unlike HLL (a14_approx_distinct, register-layout-dependent) the "
    "sketch result is bit-identical across engines AND the estimate "
    "sits in the exact gate beside its exact companion column — the "
    "audit a production sketch deployment needs. Degenerate corpora "
    "(< k distinct) fall back to exact. Plan: one distinct on tokens, "
    "TakeOrdered bottom-k (per-partition heaps — the sketch IS "
    "mergeable, which is why it scales), 1-row outputs crossed. At "
    "100 TB you keep one bottom-k heap per partition and merge k "
    "values per partition at the driver — constant memory.",
)
def sketch_kmv_distinct(spark, sf_dir):
    tk = (
        t(spark, sf_dir, "documents")
        .select(F.explode(_toks()).alias("tok"))
        .distinct()
    )
    hv = tk.select(
        "tok",
        F.expr(_H32_SPARK.format(s="tok")).alias("h"),
    )
    bottom = hv.orderBy(F.col("h").asc(), F.col("tok").asc()).limit(_KMV_K)
    kth = bottom.agg(
        F.max("h").alias("kth_min"), F.count(F.lit(1)).alias("k_used")
    )
    exact = tk.agg(F.count(F.lit(1)).alias("exact_distinct"))
    return (
        kth.crossJoin(F.broadcast(exact))
        .select(
            "k_used",
            "kth_min",
            F.expr(
                f"CASE WHEN k_used < {_KMV_K} THEN exact_distinct "
                f"ELSE CAST((({_KMV_K} - 1) * 4294967296) div kth_min AS BIGINT) "
                f"END"
            ).alias("kmv_estimate"),
            "exact_distinct",
        )
    )


# ---------------------------------------------------------------------------
# Market-basket token co-occurrence (A-priori pair counting)
# ---------------------------------------------------------------------------


@register(
    "token_cooccurrence_pairs",
    f"""
    WITH dt AS (
      SELECT doc_id, list_sort(list_distinct({_TOKS_SQL})) AS v
      FROM documents
    ), pairs AS (
      SELECT unnest(flatten(list_transform(range(1, len(v)),
               i -> list_transform(range(i + 1, len(v) + 1),
                      j -> struct_pack(w1 := v[i], w2 := v[j]))))) AS p
      FROM dt WHERE len(v) >= 2
    )
    SELECT p.w1 AS w1, p.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS support
    FROM pairs GROUP BY 1, 2
    HAVING COUNT(*) >= 100
    """,
    "Market-basket co-occurrence (the A-priori candidate-pair count): "
    "for every document, emit all unordered pairs of DISTINCT tokens "
    "(sorted, so each pair counts once per doc) and keep pairs with "
    "support >= 100 docs — topic co-occurrence vs token_pmi's "
    "adjacency collocation. Pair emission is a nested HOF over the "
    "per-doc distinct vocabulary (bounded by distinct-tokens-per-doc "
    "squared, NOT doc length squared), entirely map-side; the single "
    "exchange carries vocabulary^2-bounded partially-aggregated "
    "counts. At 100 TB a support-based prefilter (drop tokens below "
    "min support first — the actual A-priori trick) bounds the "
    "per-doc fan-out further.",
)
def token_cooccurrence_pairs(spark, sf_dir):
    dt = t(spark, sf_dir, "documents").select(
        F.array_sort(F.array_distinct(_toks())).alias("v")
    )
    pairs = dt.where(F.size("v") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(v) - 1), i -> "
                "transform(sequence(i + 1, size(v)), j -> "
                "struct(element_at(v, i) AS w1, element_at(v, j) AS w2))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 100)
    )


# ---------------------------------------------------------------------------
# Multimodal near-dup image dedup via perceptual dHash
# ---------------------------------------------------------------------------


def _dhash_oracle() -> str:
    """Replay of the REAL decode->dHash path: the Spark query builds a
    3x2 binary PPM per document (pixel byte i = ((doc_id%40)*11 + i*17)
    % 256), the mapInPandas kernel decodes actual pixels and packs
    horizontal-then-vertical neighbour comparisons little-endian; this
    oracle recomputes the identical integer arithmetic — a decoder or
    bit-order bug hash-mismatches."""
    def px(i: int) -> str:
        return f"(((doc_id % 40) * 11 + {i} * 17) % 256)"

    def gray(p: int) -> str:
        return f"({px(p * 3)} + {px(p * 3 + 1)} + {px(p * 3 + 2)})"

    # 3x2 raster: horizontal comparisons (0,1),(1,2),(3,4),(4,5) then
    # vertical (0,3),(1,4),(2,5) — bit j set when left < right
    cmps = [(0, 1), (1, 2), (3, 4), (4, 5), (0, 3), (1, 4), (2, 5)]
    bits = " + ".join(
        f"(CASE WHEN {gray(a)} < {gray(b)} THEN {1 << j} ELSE 0 END)"
        for j, (a, b) in enumerate(cmps)
    )
    return f"""
    WITH hashed AS (
      SELECT doc_id, CAST({bits} AS BIGINT) AS dhash FROM documents
    )
    SELECT dhash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS members
    FROM hashed GROUP BY dhash
    """


@register(
    "multimodal_image_dhash_dedup",
    _dhash_oracle(),
    "Multimodal near-dup image dedup: per-doc synthetic 3x2 binary PPM "
    "(REAL bytes, built JVM-side; pixel bytes derive from doc_id mod 40 "
    "so the corpus contains genuine duplicate-image groups) -> Arrow-"
    "batched mapInPandas running the real P6 decoder + difference-hash "
    "(dHash: integer grayscale, horizontal-then-vertical neighbour "
    "comparison bits) -> ONE hash aggregate grouping perceptually "
    "identical images, keeping the smallest doc_id. The image twin of "
    "dedup_exact, through the Python decode boundary; at 100 TB near- "
    "(not exactly-) duplicate images bucket by hamming bands of the "
    "dhash exactly like dedup_simhash. Oracle recomputes decode + "
    "hash arithmetic bit-for-bit.",
)
def multimodal_image_dhash_dedup(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        image_dhash,
    )

    pixel_hex = F.concat(
        *[
            F.lpad(
                F.hex((F.pmod(F.col("doc_id"), F.lit(40)) * 11 + i * 17) % 256),
                2,
                "0",
            )
            for i in range(18)
        ]
    )
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.concat(
            F.encode(F.lit("P6\n3 2\n255\n"), "utf-8"), F.unhex(pixel_hex)
        ).alias("content"),
        F.lit(None).cast("string").alias("uri"),
    )
    hashed = image_dhash(media).select(
        F.col("asset_id").cast("long").alias("doc_id"), "dhash"
    )
    return hashed.groupBy("dhash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("doc_id").alias("keeper_id"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("members"),
    )


# ---------------------------------------------------------------------------
# Fill-in-middle (FIM) transform (pretraining data prep)
# ---------------------------------------------------------------------------


@register(
    "fim_transform",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks,
             ((doc_id % 2147483648) * 2654435761) % 4294967296 AS hv
      FROM documents
    ), base AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN hv % 100 < 50 AND len(toks) >= 3
                  THEN 'fim' ELSE 'plain' END AS mode
      FROM tk
    )
    SELECT doc_id, mode,
           CASE WHEN mode = 'fim' THEN
             '<PRE>' || array_to_string(list_slice(toks, 1, n // 3), ' ')
             || '<SUF>' || array_to_string(
                  list_slice(toks, 2 * (n // 3) + 1, n), ' ')
             || '<MID>' || array_to_string(
                  list_slice(toks, n // 3 + 1, 2 * (n // 3)), ' ')
           ELSE array_to_string(toks, ' ') END AS rendered,
           CAST(n AS BIGINT) AS n_tokens
    FROM base
    """,
    "Fill-in-middle (FIM) transform: a deterministic hash selects 50% "
    "of documents for PSM-order rewriting — the document is split into "
    "prefix/middle/suffix thirds at token boundaries and re-rendered "
    "as <PRE>prefix<SUF>suffix<MID>middle, teaching the model to "
    "infill (Bavarian et al.-style pretraining prep); the rest pass "
    "through verbatim. Everything — selection (Knuth hash, no RNG), "
    "split points (integer floor-division thirds), rendering — is a "
    "pure map-side projection: zero exchanges, trivially 100 TB-"
    "parallel, and the oracle replays it string-for-string.",
)
def fim_transform(spark, sf_dir):
    hv = _knuth_hash("doc_id")
    base = t(spark, sf_dir, "documents").select(
        "doc_id",
        _toks().alias("toks"),
        F.when(
            (F.pmod(hv, F.lit(100)) < 50), F.lit("fim")
        ).otherwise(F.lit("plain")).alias("_sel"),
    ).select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.when(
            (F.col("_sel") == "fim") & (F.size("toks") >= 3), F.lit("fim")
        ).otherwise(F.lit("plain")).alias("mode"),
    )
    rendered = F.when(
        F.col("mode") == "fim",
        F.concat(
            F.lit("<PRE>"),
            F.array_join(F.slice("toks", 1, F.expr("n div 3")), " "),
            F.lit("<SUF>"),
            F.array_join(
                F.expr("slice(toks, 2 * (n div 3) + 1, n - 2 * (n div 3))"), " "
            ),
            F.lit("<MID>"),
            F.array_join(
                F.expr("slice(toks, n div 3 + 1, n div 3)"), " "
            ),
        ),
    ).otherwise(F.array_join("toks", " "))
    return base.select(
        "doc_id", "mode", rendered.alias("rendered"),
        F.col("n").cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Preference-pair assembly (alignment data prep)
# ---------------------------------------------------------------------------


@register(
    "preference_pair_assembly",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
             ) AS rk
      FROM documents
    )
    SELECT a.source,
           CAST((a.rk + 1) / 2 AS BIGINT) AS pair_id,
           a.doc_id AS chosen_id,
           b.doc_id AS rejected_id,
           CAST(a.n_chars - b.n_chars AS BIGINT) AS margin
    FROM ranked a JOIN ranked b
      ON a.source = b.source AND b.rk = a.rk + 1
    WHERE a.rk % 2 = 1
    """,
    "Preference-pair assembly (RLHF/DPO data prep): documents ranked "
    "within each source by a deterministic quality score (n_chars here; "
    "any scored column plugs in), then adjacent ranks are paired — "
    "rank 1 vs 2, 3 vs 4, ... — into (chosen, rejected, margin) rows, "
    "the exact shape a preference-tuning trainer consumes. One source-"
    "keyed window and one self-equi-join on (source, rank) that reuses "
    "the same partitioning — at 100 TB both sides co-locate so the "
    "pairing join is exchange-free; margin stays exact-integer.",
)
def preference_pair_assembly(spark, sf_dir):
    ranked = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rk"),
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    return (
        a.where(F.col("a.rk") % 2 == 1)
        .join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("b.rk") == F.col("a.rk") + 1),
        )
        .select(
            F.col("a.source").alias("source"),
            F.expr("CAST((a.rk + 1) div 2 AS BIGINT)").alias("pair_id"),
            F.col("a.doc_id").alias("chosen_id"),
            F.col("b.doc_id").alias("rejected_id"),
            (F.col("a.n_chars") - F.col("b.n_chars"))
            .cast("long")
            .alias("margin"),
        )
    )


# ---------------------------------------------------------------------------
# Contrastive triplet mining (hard negatives) for embedding training
# ---------------------------------------------------------------------------


def _triplet_oracle(n_neg: int = 3) -> str:
    from youtube_trending_data_pipeline_spark.catalog_ext import _COS_SQL

    cos = _COS_SQL.format(a="q.embedding", b="c.embedding")
    return f"""
    WITH scored AS (
      SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
             c.vec_id AS neighbor_id, c.label AS neighbor_label,
             {cos} AS cos
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 20 AND c.vec_id >= 20
    ), pos AS (
      SELECT anchor_id, neighbor_id AS pos_id FROM (
        SELECT anchor_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS r
        FROM scored WHERE neighbor_label = anchor_label
      ) WHERE r = 1
    ), neg AS (
      SELECT anchor_id,
             string_agg(CAST(neighbor_id AS VARCHAR), ',' ORDER BY r)
               AS neg_ids
      FROM (
        SELECT anchor_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS r
        FROM scored WHERE neighbor_label <> anchor_label
      ) WHERE r <= {n_neg}
      GROUP BY anchor_id
    )
    SELECT p.anchor_id, p.pos_id, n.neg_ids
    FROM pos p JOIN neg n USING (anchor_id)
    """


@register(
    "contrastive_triplet_mining",
    _triplet_oracle(3),
    "Contrastive triplet mining (hard negatives): for each anchor "
    "vector, the positive is its nearest SAME-label neighbour and the "
    "negatives are the 3 nearest DIFFERENT-label neighbours — the "
    "semi-hard mining step that builds (anchor, positive, negatives) "
    "training rows for embedding-model contrastive fine-tuning. "
    "Composes the labeled brute-force scan (broadcast anchors, "
    "partition-parallel corpus, exact fixed-order cosine — "
    "bit-identical to the oracle) with two anchor-keyed rank windows "
    "sharing one exchange. At 100 TB the scan swaps for the LSH/IVF "
    "candidate path per anchor, identical downstream semantics.",
)
def contrastive_triplet_mining(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.similarity import (
        cosine_similarity,
    )

    emb = t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("anchor_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("vec"),
    )
    scored = corpus.crossJoin(F.broadcast(anchors)).select(
        "anchor_id",
        "anchor_label",
        "neighbor_id",
        "neighbor_label",
        cosine_similarity("anchor_vec", "vec").alias("cos"),
    )
    w = W.partitionBy("anchor_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    pos = (
        scored.where(F.col("neighbor_label") == F.col("anchor_label"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("anchor_id", F.col("neighbor_id").alias("pos_id"))
    )
    neg = (
        scored.where(F.col("neighbor_label") != F.col("anchor_label"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 3)
        .groupBy("anchor_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("r", "neighbor_id"))),
                    lambda x: x.neighbor_id.cast("string"),
                ),
                ",",
            ).alias("neg_ids")
        )
    )
    return pos.join(neg, "anchor_id")


# ---------------------------------------------------------------------------
# Multimodal image resize (integer box filter, exact)
# ---------------------------------------------------------------------------


def _resize_oracle() -> str:
    """Replay of decode -> 2x box resize on the synthetic 4x4 images:
    pixel byte i = ((doc_id*5 + i*11) % 256); each output channel is the
    floor mean of its 2x2 block, re-hex'd in raster order."""
    def px(i: int) -> str:
        return f"((doc_id * 5 + {i} * 11) % 256)"

    # input 4x4 RGB: byte index of pixel (x,y) channel c = (y*4+x)*3+c
    parts = []
    for oy in range(2):
        for ox in range(2):
            for c in range(3):
                s = " + ".join(
                    px(((2 * oy + dy) * 4 + 2 * ox + dx) * 3 + c)
                    for dy in (0, 1)
                    for dx in (0, 1)
                )
                parts.append(f"lpad(hex(({s}) // 4), 2, '0')")
    concat = " || ".join(parts)
    return f"""
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST(2 AS BIGINT) AS out_w,
           CAST(2 AS BIGINT) AS out_h,
           lower({concat}) AS pixels_hex
    FROM documents
    """


@register(
    "multimodal_image_resize",
    _resize_oracle(),
    "Multimodal image resize: per-doc synthetic 4x4 binary PPM (real "
    "bytes) -> Arrow-batched mapInPandas running the real P6 decoder "
    "and a 2x integer BOX-FILTER downscale (each output channel = "
    "floor mean of its 2x2 block) -> hex raster out. Completes the "
    "brief's decode / feature-extract / RESIZE / frame-sample "
    "multimodal quartet in the exactly-checkable integer form; the "
    "oracle recomputes every resized byte from the generator "
    "arithmetic, so a raster-order or rounding bug hash-mismatches. "
    "Map-side only — zero exchanges; at 100 TB this is the "
    "constant-memory per-asset preprocessing stage before batch "
    "inference.",
)
def multimodal_image_resize(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        resize_images_box2,
    )

    pixel_hex = F.concat(
        *[
            F.lpad(F.hex((F.col("doc_id") * 5 + i * 11) % 256), 2, "0")
            for i in range(48)
        ]
    )
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.concat(
            F.encode(F.lit("P6\n4 4\n255\n"), "utf-8"), F.unhex(pixel_hex)
        ).alias("content"),
        F.lit(None).cast("string").alias("uri"),
    )
    return resize_images_box2(media)


# ---------------------------------------------------------------------------
# XML functions (Spark 4 from_xml / xpath family)
# ---------------------------------------------------------------------------


@register(
    "f_xml_funcs",
    """
    SELECT doc_id,
           doc_id AS xml_id,
           CAST(doc_id * 7 % 1000 AS BIGINT) AS views,
           'cat-' || CAST(doc_id % 5 AS VARCHAR) AS category,
           CAST(doc_id * 7 % 1000 AS BIGINT) * 2 AS views_x2
    FROM documents
    """,
    "F-extension: XML ingestion surface (Spark 4 native from_xml + the "
    "xpath_* family). Each doc gets a synthetic XML record built from "
    "doc_id arithmetic; the query parses it BOTH ways — from_xml with "
    "an explicit struct schema (attribute + element extraction, the "
    "schema-on-read path a 100 TB feed ingest uses) and xpath_long "
    "(the ad-hoc path) — and the oracle replays the generator "
    "arithmetic, so a parser regression in either extraction breaks "
    "the hash. Map-side only: zero exchanges, codegen string "
    "expressions feeding the JVM XML parser.",
)
def f_xml_funcs(spark, sf_dir):
    xml = F.concat(
        F.lit('<rec cat="cat-'),
        F.pmod("doc_id", F.lit(5)).cast("string"),
        F.lit('"><id>'),
        F.col("doc_id").cast("string"),
        F.lit("</id><views>"),
        F.pmod(F.col("doc_id") * 7, F.lit(1000)).cast("string"),
        F.lit("</views></rec>"),
    )
    parsed = (
        t(spark, sf_dir, "documents")
        .select("doc_id", xml.alias("_xml"))
        .select(
            "doc_id",
            F.from_xml(
                "_xml", "_cat STRING, id BIGINT, views BIGINT"
            ).alias("p"),
            F.expr("xpath_long(_xml, '/rec/views')").alias("_xp_views"),
        )
    )
    return parsed.select(
        "doc_id",
        F.col("p.id").alias("xml_id"),
        F.col("p.views").alias("views"),
        F.col("p._cat").alias("category"),
        (F.col("_xp_views") * 2).alias("views_x2"),
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten deletion propagation (compliance)
# ---------------------------------------------------------------------------


@register(
    "gdpr_delete_propagation",
    """
    WITH dels AS (
      SELECT DISTINCT user_id FROM events
      WHERE ((user_id % 2147483648) * 2654435761) % 4294967296 % 20 = 0
    ), kept AS (
      SELECT e.user_id,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
               AS kept_cents
      FROM events e LEFT JOIN dels d ON d.user_id = e.user_id
      WHERE d.user_id IS NULL
      GROUP BY e.user_id
    ), audit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_purged_users,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
              JOIN dels d ON d.user_id = e.user_id) AS n_purged_rows
      FROM dels
    )
    SELECT k.user_id, k.n_kept, k.kept_cents,
           a.n_purged_users, a.n_purged_rows
    FROM kept k CROSS JOIN audit a
    """,
    "Right-to-be-forgotten deletion propagation: a deletion-request "
    "list (deterministic hash cohort here; a real run reads the DSAR "
    "table) is anti-joined out of the event store, and every surviving "
    "row carries the audit pair (purged-user count, purged-row count) "
    "a compliance report needs — the delete is provable, not silent. "
    "Plan: one broadcast anti-join against the (small) deletion list, "
    "one keyed aggregate, one 1-row audit broadcast. At 100 TB the "
    "anti-join pushes into the scan via a runtime bloom filter and "
    "partition-level deletes compact asynchronously (Delta/Iceberg "
    "DELETE); the relational semantics here are exactly those.",
)
def gdpr_delete_propagation(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id", cents("value").alias("vc")
    )
    hv = _knuth_hash("user_id")
    dels = ev.select("user_id").distinct().where(F.pmod(hv, F.lit(20)) == 0)
    kept = (
        ev.join(F.broadcast(dels), "user_id", "left_anti")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("vc").alias("kept_cents"),
        )
    )
    purged_rows = ev.join(F.broadcast(dels), "user_id", "left_semi")
    audit = dels.agg(F.count(F.lit(1)).alias("n_purged_users")).crossJoin(
        F.broadcast(purged_rows.agg(F.count(F.lit(1)).alias("n_purged_rows")))
    )
    return kept.crossJoin(F.broadcast(audit))


# ---------------------------------------------------------------------------
# Merkle-tree corpus checksum (integrity / versioning)
# ---------------------------------------------------------------------------

_MERKLE_FANOUT = 16
_MERKLE_LEVELS = 4  # doc_id < 16^4; a bigger corpus adds levels


def _merkle_oracle() -> str:
    ctes = [
        "l0 AS (SELECT doc_id AS bucket, md5(text) AS h FROM documents)"
    ]
    selects = ["SELECT CAST(0 AS BIGINT) AS level, bucket, h FROM l0"]
    for k in range(1, _MERKLE_LEVELS + 1):
        ctes.append(f"""
    l{k} AS (
      SELECT bucket // {_MERKLE_FANOUT} AS bucket,
             md5(string_agg(h, '' ORDER BY bucket)) AS h
      FROM l{k-1} GROUP BY bucket // {_MERKLE_FANOUT}
    )""")
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS level, bucket, h FROM l{k}"
        )
    return "WITH " + ",".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "corpus_merkle_tree",
    _merkle_oracle(),
    "Merkle-tree corpus checksum: leaf = md5(doc), each parent = md5 of "
    "its 16 children's hashes concatenated in bucket order, 4 fixed "
    "levels up to the root — the integrity structure that lets two "
    "copies of a 100 TB corpus prove equality (or locate the divergent "
    "16^k-doc subtree) by comparing O(log n) hashes instead of "
    "re-scanning, and the backbone of dataset versioning/lineage "
    "attestation. Each level is ONE ordered-string-agg hash aggregate "
    "keyed by bucket div 16 (ordered agg via sort_array(collect_list) "
    "— same idiom as a16); level k has n/16^k rows, so the whole tree "
    "costs barely more than one corpus pass. Fixed level count keeps "
    "the plan static and collect-free.",
)
def corpus_merkle_tree(spark, sf_dir):
    level = (
        t(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("bucket"), F.md5(F.col("text")).alias("h")
        )
    )
    out = level.select(F.lit(0).cast("long").alias("level"), "bucket", "h")
    for k in range(1, _MERKLE_LEVELS + 1):
        level = (
            level.groupBy(
                # integer floor-div, matching the oracle's `bucket // N`
                # exactly for any fanout — the previous double-division
                # form was exact only for power-of-two fanouts below 2^53
                # (ADVICE r5)
                F.expr(f"bucket div {_MERKLE_FANOUT}").alias("bucket")
            )
            .agg(
                F.md5(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("bucket", "h"))
                            ),
                            lambda x: x.h,
                        ),
                        "",
                    )
                ).alias("h")
            )
        )
        out = out.unionAll(
            level.select(F.lit(k).cast("long").alias("level"), "bucket", "h")
        )
    return out


# ---------------------------------------------------------------------------
# Evaluation metrics: confusion matrix + PR threshold sweep
# ---------------------------------------------------------------------------


def _knn_confusion_oracle() -> str:
    from youtube_trending_data_pipeline_spark.catalog_corpus import _knn_oracle

    return f"""
    WITH pred AS ({_knn_oracle(3)})
    SELECT t.label AS true_label, p.predicted_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred p JOIN embeddings t ON t.vec_id = p.query_id
    GROUP BY t.label, p.predicted_label
    """


@register(
    "eval_knn_confusion",
    _knn_confusion_oracle(),
    "Evaluation: confusion matrix of the k-NN classifier "
    "(sim_knn_classify) against gold labels — the (true, predicted, "
    "count) cells every eval harness derives accuracy/precision/recall "
    "from, closing the mine -> classify -> evaluate loop inside the "
    "engine. One join of the (tiny) prediction set onto the label "
    "table + one cells-sized aggregate on top of the labeled "
    "brute-force scan.",
)
def eval_knn_confusion(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog_corpus import (
        sim_knn_classify,
    )

    pred = sim_knn_classify(spark, sf_dir)
    gold = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        pred.join(F.broadcast(gold), "query_id")
        .groupBy("true_label", "predicted_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "eval_pr_curve",
    """
    WITH scored AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
             CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296
                       % 10 < 3
                  THEN 1 ELSE 0 END AS gold
      FROM documents
    ), th(thresh) AS (
      VALUES (100), (200), (300), (400), (500)
    )
    SELECT th.thresh,
           CAST(SUM(CASE WHEN s.score >= th.thresh AND s.gold = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN s.score >= th.thresh AND s.gold = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN s.score < th.thresh AND s.gold = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST((1000000 * SUM(CASE WHEN s.score >= th.thresh AND s.gold = 1
                                    THEN 1 ELSE 0 END))
                // GREATEST(SUM(CASE WHEN s.score >= th.thresh
                                     THEN 1 ELSE 0 END), 1) AS BIGINT)
             AS precision_ppm,
           CAST((1000000 * SUM(CASE WHEN s.score >= th.thresh AND s.gold = 1
                                    THEN 1 ELSE 0 END))
                // GREATEST(SUM(CASE WHEN s.gold = 1 THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS recall_ppm
    FROM scored s CROSS JOIN th
    GROUP BY th.thresh
    """,
    "Evaluation: precision/recall threshold sweep of a document scorer "
    "against a gold set (deterministic hash cohort stands in for human "
    "labels) — 5 operating points with exact-integer ppm precision/"
    "recall, the table a filter-tuning run reads to pick its threshold. "
    "ONE pass: scores cross-joined with the 5-row literal threshold "
    "spine (broadcast constant-append), one 5-row aggregate; at 100 TB "
    "the same plan sweeps any number of thresholds in a single corpus "
    "scan.",
)
def eval_pr_curve(spark, sf_dir):
    hv = _knuth_hash("doc_id")
    scored = t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("long").alias("score"),
        F.when(F.pmod(hv, F.lit(10)) < 3, F.lit(1)).otherwise(F.lit(0)).alias("gold"),
    )
    th = spark.range(1, 6).select((F.col("id") * 100).alias("thresh"))
    hit = (F.col("score") >= F.col("thresh")).cast("long")
    return (
        scored.crossJoin(F.broadcast(th))
        .groupBy("thresh")
        .agg(
            F.sum(hit * F.col("gold")).alias("tp"),
            F.sum(hit * (1 - F.col("gold"))).alias("fp"),
            F.sum((1 - hit) * F.col("gold")).alias("fn"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN score >= thresh AND gold = 1 "
                "THEN 1 ELSE 0 END)) div greatest(sum(CASE WHEN score >= "
                "thresh THEN 1 ELSE 0 END), 1) AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN score >= thresh AND gold = 1 "
                "THEN 1 ELSE 0 END)) div greatest(sum(gold), 1) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


def _mrr_oracle(k: int = 10) -> str:
    from youtube_trending_data_pipeline_spark.catalog_ext import _COS_SQL

    cos = _COS_SQL.format(a="q.embedding", b="c.embedding")
    return f"""
    WITH ranked AS (
      SELECT q.vec_id AS query_id,
             CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY {cos} DESC, c.vec_id ASC) AS rank
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 20 AND c.vec_id >= 20
    ), first_hit AS (
      SELECT query_id, MIN(rank) AS first_rel_rank
      FROM ranked WHERE rel = 1 AND rank <= {k}
      GROUP BY query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(f.first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
           CAST(CASE WHEN f.first_rel_rank IS NULL THEN 0
                     ELSE 1000000 // f.first_rel_rank END AS BIGINT)
             AS rr_ppm
    FROM (SELECT DISTINCT vec_id AS query_id FROM embeddings
          WHERE vec_id < 20) q
    LEFT JOIN first_hit f USING (query_id)
    """


@register(
    "eval_mrr",
    _mrr_oracle(10),
    "Evaluation: reciprocal rank @10 of the exact-cosine retrieval "
    "against same-label relevance — MRR is the ranking metric that "
    "stays EXACT in integer ppm (NDCG's log2 discount would put an "
    "irrational constant in the gate), so retrieval-quality tracking "
    "lands in the bit-exact harness. Per anchor: the rank of the "
    "first same-label neighbour in the top-10 (0 = miss), rr = 1e6 "
    "div rank. Composes the labeled brute-force scan with one rank "
    "window and one min-aggregate.",
)
def eval_mrr(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.similarity import (
        cosine_similarity,
    )

    emb = t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
    )
    corpus = emb.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"),
        F.col("embedding").alias("nvec"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("nid")
    )
    ranked = (
        corpus.crossJoin(F.broadcast(anchors))
        .select(
            "query_id",
            (F.col("nlabel") == F.col("qlabel")).cast("int").alias("rel"),
            cosine_similarity("qvec", "nvec").alias("cos"),
            "nid",
        )
        .withColumn("rank", F.row_number().over(w))
    )
    first_hit = (
        ranked.where((F.col("rel") == 1) & (F.col("rank") <= 10))
        .groupBy("query_id")
        .agg(F.min("rank").alias("fr"))
    )
    return (
        anchors.select("query_id")
        .join(first_hit, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("fr", F.lit(0)).cast("long").alias("first_rel_rank"),
            F.expr(
                "CAST(CASE WHEN fr IS NULL THEN 0 "
                "ELSE 1000000 div fr END AS BIGINT)"
            ).alias("rr_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# SFT template rendering with loss-mask offsets
# ---------------------------------------------------------------------------


@register(
    "sft_render_masked",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), parts AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, 1, greatest(len(toks) // 2, 1)),
                             ' ') AS instruction,
             array_to_string(list_slice(toks, greatest(len(toks) // 2, 1) + 1,
                                        len(toks)), ' ') AS response
      FROM tk WHERE len(toks) >= 2
    )
    SELECT doc_id,
           '<|user|>' || instruction || '<|assistant|>' || response
             AS rendered,
           CAST(length('<|user|>' || instruction || '<|assistant|>')
                AS BIGINT) AS mask_end,
           CAST(length('<|user|>' || instruction || '<|assistant|>'
                       || response) AS BIGINT) AS total_len
    FROM parts
    """,
    "SFT template rendering with loss-mask offsets: each document is "
    "split into an (instruction, response) pair (deterministic halves "
    "here; a real run joins the annotation table), rendered through a "
    "chat template, and annotated with the CHARACTER OFFSET where the "
    "loss mask ends — the prompt span a supervised-fine-tune run "
    "excludes from the loss, computed at data-prep time so the trainer "
    "never re-parses templates. Pure map-side projection: zero "
    "exchanges; the oracle replays template + offsets string-for-"
    "string.",
)
def sft_render_masked(spark, sf_dir):
    parts = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.array_join(
                F.expr("slice(toks, 1, greatest(size(toks) div 2, 1))"), " "
            ).alias("instruction"),
            F.array_join(
                F.expr(
                    "slice(toks, greatest(size(toks) div 2, 1) + 1, "
                    "size(toks) - greatest(size(toks) div 2, 1))"
                ),
                " ",
            ).alias("response"),
        )
    )
    prompt = F.concat(
        F.lit("<|user|>"), F.col("instruction"), F.lit("<|assistant|>")
    )
    return parts.select(
        "doc_id",
        F.concat(prompt, F.col("response")).alias("rendered"),
        F.length(prompt).cast("long").alias("mask_end"),
        F.length(F.concat(prompt, F.col("response"))).cast("long").alias(
            "total_len"
        ),
    )


# ---------------------------------------------------------------------------
# Attention spans within packed sequences (block-diagonal mask prep)
# ---------------------------------------------------------------------------


@register(
    "pack_attention_spans",
    """
    WITH toks AS (
      SELECT doc_id, source, n_chars // 4 AS n_tokens FROM documents
    ), packed AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS prior_toks
      FROM toks
    )
    SELECT doc_id, source,
           prior_toks // 512 AS pack_id,
           prior_toks % 512 AS span_start,
           CASE WHEN prior_toks % 512 + n_tokens > 512 THEN 512
                ELSE prior_toks % 512 + n_tokens END AS span_end,
           CAST(CASE WHEN prior_toks % 512 + n_tokens > 512
                     THEN prior_toks % 512 + n_tokens - 512 ELSE 0 END
                AS BIGINT) AS carry_tokens
    FROM packed
    """,
    "Attention spans within packed sequences: extends "
    "pack_sequences_linear's assignment with each document's "
    "(span_start, span_end) token range INSIDE its 512-token pack plus "
    "the carry spilling into the next pack — exactly the per-document "
    "boundary table a block-diagonal attention mask (packed-sample "
    "training without cross-doc attention) is built from. Same single "
    "source-keyed window as the packer; everything else is arithmetic "
    "on the prefix sum.",
)
def pack_attention_spans(spark, sf_dir):
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr("n_chars div 4").alias("n_tokens")
    )
    packed = toks.withColumn(
        "prior_toks", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    start = F.pmod("prior_toks", F.lit(512))
    return packed.select(
        "doc_id",
        "source",
        F.expr("prior_toks div 512").alias("pack_id"),
        start.alias("span_start"),
        F.when(start + F.col("n_tokens") > 512, F.lit(512))
        .otherwise(start + F.col("n_tokens"))
        .cast("long")
        .alias("span_end"),
        F.when(
            start + F.col("n_tokens") > 512,
            start + F.col("n_tokens") - 512,
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("carry_tokens"),
    )


# ---------------------------------------------------------------------------
# Interleaved image-text sequence assembly (VLM training prep)
# ---------------------------------------------------------------------------


@register(
    "interleave_image_text",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), base AS (
      SELECT doc_id, toks, len(toks) AS n,
             greatest(len(toks) // 2, 1) AS n1
      FROM tk WHERE len(toks) >= 2
    )
    SELECT doc_id, seq_pos, kind, content_ref, token_offset FROM (
      SELECT doc_id, CAST(0 AS BIGINT) AS seq_pos, 'text' AS kind,
             array_to_string(list_slice(toks, 1, n1), ' ') AS content_ref,
             CAST(0 AS BIGINT) AS token_offset
      FROM base
      UNION ALL
      SELECT doc_id, CAST(1 AS BIGINT), 'image',
             'asset://' || CAST(doc_id AS VARCHAR),
             CAST(n1 AS BIGINT)
      FROM base
      UNION ALL
      SELECT doc_id, CAST(2 AS BIGINT), 'text',
             array_to_string(list_slice(toks, n1 + 1, n), ' '),
             CAST(n1 + 1 AS BIGINT)
      FROM base
    )
    """,
    "Interleaved image-text sequence assembly (the MMC4/OBELICS-style "
    "VLM training-data shape): each document becomes an ordered "
    "sequence of typed segments — text chunk, image placeholder "
    "(asset URI, 1 position in the token stream), text chunk — each "
    "carrying its TOKEN OFFSET so the trainer can splice image "
    "embeddings into the right positions without re-tokenizing. "
    "Map-side segment emission (one explode), no shuffle; the asset "
    "URI joins against the multimodal kernels' asset_id downstream. "
    "Oracle replays segments and offsets string-for-string.",
)
def interleave_image_text(spark, sf_dir):
    base = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("n"),
            F.expr("greatest(size(toks) div 2, 1)").alias("n1"),
        )
    )
    segs = F.array(
        F.struct(
            F.lit(0).cast("long").alias("seq_pos"),
            F.lit("text").alias("kind"),
            F.array_join(F.expr("slice(toks, 1, n1)"), " ").alias(
                "content_ref"
            ),
            F.lit(0).cast("long").alias("token_offset"),
        ),
        F.struct(
            F.lit(1).cast("long").alias("seq_pos"),
            F.lit("image").alias("kind"),
            F.concat(F.lit("asset://"), F.col("doc_id").cast("string")).alias(
                "content_ref"
            ),
            F.col("n1").cast("long").alias("token_offset"),
        ),
        F.struct(
            F.lit(2).cast("long").alias("seq_pos"),
            F.lit("text").alias("kind"),
            F.array_join(F.expr("slice(toks, n1 + 1, n - n1)"), " ").alias(
                "content_ref"
            ),
            (F.col("n1") + 1).cast("long").alias("token_offset"),
        ),
    )
    return base.select("doc_id", F.explode(segs).alias("s")).select(
        "doc_id", "s.seq_pos", "s.kind", "s.content_ref", "s.token_offset"
    )


# ---------------------------------------------------------------------------
# T5-style span corruption (denoising objective prep)
# ---------------------------------------------------------------------------


@register(
    "span_corruption_t5",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), base AS (
      SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) >= 12
    )
    SELECT doc_id,
           array_to_string(list_filter(list_transform(range(1, n + 1), p ->
             CASE WHEN (p - 1) % 10 = 0 AND p + 1 <= n
                    THEN '<extra_id_' || CAST((p - 1) // 10 AS VARCHAR) || '>'
                  WHEN (p - 1) % 10 = 1 AND p <= n
                       AND (p - 2) % 10 = 0 AND p - 1 >= 1
                    THEN ''
                  ELSE toks[p] END), x -> x <> ''), ' ') AS corrupted,
           array_to_string(list_filter(list_transform(range(1, n + 1), p ->
             CASE WHEN (p - 1) % 10 = 0 AND p + 1 <= n
                    THEN '<extra_id_' || CAST((p - 1) // 10 AS VARCHAR) || '>'
                         || ' ' || toks[p] || ' ' || toks[p + 1]
                  ELSE '' END), x -> x <> ''), ' ') AS target,
           CAST((n + 8) // 10 AS BIGINT) AS n_spans,
           CAST(n AS BIGINT) AS n_tokens
    FROM base
    """,
    "T5/UL2-style span corruption: deterministic 2-token spans (every "
    "10th position) are replaced by numbered sentinel tokens in the "
    "corrupted input, and the target is the sentinel-delimited "
    "concatenation of the masked spans — the denoising-objective data "
    "prep (Raffel et al.) in its exactly-replayable form (hash-free "
    "fixed stride here; a seeded-hash stride drops in without "
    "changing the plan). Pure map-side HOFs over the token array: "
    "zero exchanges; the oracle rebuilds both strings token-for-"
    "token.",
)
def span_corruption_t5(spark, sf_dir):
    base = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("toks"))
        .where(F.size("toks") >= 12)
        .select("doc_id", "toks", F.size("toks").alias("n"))
    )
    corrupted = F.expr(
        """
        array_join(filter(transform(sequence(1, n), p ->
          CASE WHEN (p - 1) % 10 = 0 AND p + 1 <= n
                 THEN concat('<extra_id_', CAST((p - 1) div 10 AS STRING), '>')
               WHEN (p - 1) % 10 = 1 AND p <= n
                    AND (p - 2) % 10 = 0 AND p - 1 >= 1
                 THEN ''
               ELSE element_at(toks, p) END), x -> x != ''), ' ')
        """
    )
    target = F.expr(
        """
        array_join(filter(transform(sequence(1, n), p ->
          CASE WHEN (p - 1) % 10 = 0 AND p + 1 <= n
                 THEN concat('<extra_id_', CAST((p - 1) div 10 AS STRING), '>',
                             ' ', element_at(toks, p), ' ',
                             element_at(toks, p + 1))
               ELSE '' END), x -> x != ''), ' ')
        """
    )
    return base.select(
        "doc_id",
        corrupted.alias("corrupted"),
        target.alias("target"),
        F.expr("CAST((n + 8) div 10 AS BIGINT)").alias("n_spans"),
        F.col("n").cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Evaluation: BLEU modified n-gram precision components (integer-exact)
# ---------------------------------------------------------------------------


@register(
    "eval_bleu_components",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), grams AS (
      SELECT doc_id, 1 AS n, unnest(toks) AS g FROM tk
      UNION ALL
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i + 1])) AS g
      FROM tk WHERE len(toks) >= 2
    ), counts AS (
      SELECT doc_id, n, g, COUNT(*) AS cnt FROM grams GROUP BY 1, 2, 3
    ), cand AS (
      SELECT * FROM counts WHERE doc_id % 2 = 1
    ), ref AS (
      SELECT doc_id + 1 AS pair_id, n, g, cnt FROM counts WHERE doc_id % 2 = 0
    ), clipped AS (
      SELECT c.doc_id AS pair_id, c.n,
             SUM(least(c.cnt, COALESCE(r.cnt, 0))) AS clip,
             SUM(c.cnt) AS tot
      FROM cand c
      LEFT JOIN ref r ON r.pair_id = c.doc_id AND r.n = c.n AND r.g = c.g
      WHERE c.doc_id IN (SELECT pair_id FROM ref)
      GROUP BY 1, 2
    )
    SELECT pair_id,
           CAST(MAX(CASE WHEN n = 1 THEN tot END) AS BIGINT)
             AS n_cand_tokens,
           CAST(MAX(CASE WHEN n = 1 THEN (1000000 * clip) // tot END)
                AS BIGINT) AS p1_ppm,
           CAST(MAX(CASE WHEN n = 2 THEN (1000000 * clip) // tot END)
                AS BIGINT) AS p2_ppm
    FROM clipped GROUP BY pair_id
    """,
    "Evaluation: BLEU's modified n-gram precision components between "
    "paired documents (candidate = odd doc_id, reference = the "
    "preceding even doc_id — the generation-vs-gold pairing of an eval "
    "harness). For n in (1, 2): per pair, sum over candidate grams of "
    "count clipped at the reference count, over total candidate grams, "
    "as exact ppm integers (the geometric mean + brevity penalty are a "
    "driver-side exp/log over these exact components — kept out so the "
    "gate stays integer-exact, the same policy as Gini-vs-entropy and "
    "MRR-vs-NDCG). Plan: one gram-count aggregate over each side, one "
    "broadcast-sized equi-join per n on (pair, gram), one pair reduce "
    "— at 100 TB the gram join shuffles hashed fixed-width keys with "
    "map-side partial counts, the contamination_check cost shape.",
)
def eval_bleu_components(spark, sf_dir):
    tk = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("toks"))
    )
    one = tk.select("doc_id", F.lit(1).alias("n"), F.explode("toks").alias("g"))
    two = tk.where(F.size("toks") >= 2).select(
        "doc_id",
        F.lit(2).alias("n"),
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat(element_at(toks, i), ' ', "
                "element_at(toks, i + 1)))"
            )
        ).alias("g"),
    )
    counts = (
        one.unionByName(two)
        .groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cand = counts.where(F.col("doc_id") % 2 == 1)
    ref = counts.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1).alias("pair_id"),
        F.col("n").alias("rn"),
        F.col("g").alias("rg"),
        F.col("cnt").alias("rcnt"),
    )
    clipped = (
        cand.join(
            ref.select("pair_id").distinct(),
            cand["doc_id"] == F.col("pair_id"),
            "left_semi",
        )
        .join(
            ref,
            (cand["doc_id"] == ref["pair_id"])
            & (cand["n"] == ref["rn"])
            & (cand["g"] == ref["rg"]),
            "left",
        )
        .groupBy(cand["doc_id"].alias("pair_id"), "n")
        .agg(
            F.sum(F.least("cnt", F.coalesce("rcnt", F.lit(0)))).alias("clip"),
            F.sum("cnt").alias("tot"),
        )
    )
    return clipped.groupBy("pair_id").agg(
        F.max(F.when(F.col("n") == 1, F.col("tot")))
        .cast("long")
        .alias("n_cand_tokens"),
        F.max(
            F.when(F.col("n") == 1, F.expr("(1000000 * clip) div tot"))
        )
        .cast("long")
        .alias("p1_ppm"),
        F.max(
            F.when(F.col("n") == 2, F.expr("(1000000 * clip) div tot"))
        )
        .cast("long")
        .alias("p2_ppm"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership sketch (build + probe, FP-rate audited vs exact)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 8192  # bits per hash partition (partitioned bloom, k=3)


def _bloom_pos_duck(j: int) -> str:
    return (
        f"((('0x' || substr(md5(text), {1 + 8 * j}, 6))::BIGINT) "
        f"% {_BLOOM_BITS} + {j * _BLOOM_BITS})"
    )


@register(
    "sketch_bloom_probe",
    f"""
    WITH build AS (
      SELECT DISTINCT pos FROM (
        {" UNION ALL ".join(
            f"SELECT {_bloom_pos_duck(j)} AS pos FROM documents "
            "WHERE doc_id % 2 = 0" for j in range(3)
        )}
      )
    ), members AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    ), probe AS (
      SELECT doc_id, md5(text) AS h, p.j,
             ((('0x' || substr(md5(text), 1 + 8 * p.j, 6))::BIGINT)
              % {_BLOOM_BITS} + p.j * {_BLOOM_BITS}) AS pos
      FROM documents, (SELECT unnest(range(3)) AS j) p
      WHERE doc_id % 2 = 1
    ), matched AS (
      SELECT pr.doc_id, pr.h,
             SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_matched
      FROM probe pr LEFT JOIN build b ON pr.pos = b.pos
      GROUP BY 1, 2
    )
    SELECT m.doc_id, CAST(m.n_matched AS BIGINT) AS n_matched,
           m.n_matched = 3 AS bloom_hit,
           EXISTS (SELECT 1 FROM members mm WHERE mm.h = m.h) AS is_member
    FROM matched m
    """,
    "Bloom-filter membership sketch, build + probe + exact audit: the "
    "build side (even doc_ids) sets k=3 bit positions per content hash "
    "in a PARTITIONED bloom (each hash function owns its own "
    f"{_BLOOM_BITS}-bit range — independent FP math, no cross-hash "
    "position collisions); the probe side (odd doc_ids) reports bits "
    "matched, the bloom verdict (all 3 set), and the EXACT membership "
    "verdict side by side, so the entry audits its own false-positive "
    "rate (false negatives are impossible — asserted in tests). "
    "Hashes are the md5-portable construction every dedup entry "
    "shares. Plan: the bit-position set is a bounded broadcast "
    f"(<= 3 x {_BLOOM_BITS} rows) joined map-side onto probe "
    "positions; the exact audit is one broadcast semi-probe on the "
    "content hash. At 100 TB this is the cheap pre-filter in front of "
    "dedup_incremental's anti-join: ship the kilobyte-scale bloom, "
    "not the fingerprint store, to every executor.",
)
def sketch_bloom_probe(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )

    def pos(j: int):
        return (
            F.conv(F.substring("h", 1 + 8 * j, 6), 16, 10).cast("long")
            % _BLOOM_BITS
            + j * _BLOOM_BITS
        )

    positions = F.array(*[pos(j) for j in range(3)])
    build = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(F.explode(positions).alias("pos"))
        .distinct()
        .withColumn("set_bit", F.lit(1))
    )
    members = (
        docs.where(F.col("doc_id") % 2 == 0).select("h").distinct()
        .withColumn("is_m", F.lit(True))
    )
    probe = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "h", F.explode(positions).alias("pos")
    )
    matched = (
        probe.join(F.broadcast(build), "pos", "left")
        .groupBy("doc_id", "h")
        .agg(F.sum(F.coalesce("set_bit", F.lit(0))).alias("n_matched"))
    )
    return (
        matched.join(F.broadcast(members), "h", "left")
        .select(
            "doc_id",
            F.col("n_matched").cast("long").alias("n_matched"),
            (F.col("n_matched") == 3).alias("bloom_hit"),
            F.coalesce("is_m", F.lit(False)).alias("is_member"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 batch 2: decode round-trip, MRL truncation audit, tokenizer
# fertility, chunk-stitch detection
# ---------------------------------------------------------------------------


@register(
    "detokenize_roundtrip",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), pos AS (
      SELECT doc_id, i AS pos, toks[i + 1] AS tok
      FROM tk, LATERAL (SELECT unnest(range(0, len(toks))) AS i) g
      WHERE len(toks) > 0
    ), vc AS (
      SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS c FROM pos GROUP BY 1
    ), vocab AS (
      SELECT token,
             CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token) AS BIGINT) AS id
      FROM vc WHERE c >= 2
    ), enc AS (
      SELECT p.doc_id, p.pos, v.id, p.tok
      FROM pos p LEFT JOIN vocab v ON v.token = p.tok
    ), dec AS (
      SELECT e.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN e.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unk,
             string_agg(COALESCE(v2.token, '<unk>'), ' ' ORDER BY e.pos)
               AS decoded
      FROM enc e LEFT JOIN vocab v2 ON v2.id = e.id
      GROUP BY e.doc_id
    )
    SELECT d.doc_id, d.n_tokens, d.n_unk,
           (d.n_unk = 0 AND
            d.decoded = array_to_string({_TOKS_SQL.replace('text', 'dd.text')}, ' '))
             AS roundtrip_exact
    FROM dec d JOIN documents dd ON dd.doc_id = d.doc_id
    """,
    "Detokenization round-trip integrity gate: encode every document "
    "through the SAME frequency-ranked vocabulary as tokenize_to_ids, "
    "decode the id sequence back through the reverse vocabulary "
    "(OOV -> '<unk>'), and verify the reconstruction equals the "
    "normalized original exactly when no UNKs were emitted — the "
    "lossless-round-trip check a tokenized-corpus release runs before "
    "shipping (id corruption, vocab drift, and ordering bugs all land "
    "here). Plan: the decode is a second broadcast join against the "
    "same vocab (id-keyed this time) + one ordered doc reassembly; "
    "nothing new shuffles beyond tokenize_to_ids' own shapes. "
    "tests assert n_unk=0 docs ALWAYS round-trip exactly.",
)
def detokenize_roundtrip(spark, sf_dir):
    pos = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("_toks"))
        .where(F.size("_toks") > 0)
        .select("doc_id", F.posexplode("_toks").alias("pos", "tok"))
    )
    vc = pos.groupBy(F.col("tok").alias("token")).agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = (
        vc.where(F.col("c") >= 2)
        .withColumn(
            "id",
            F.row_number().over(W.orderBy(F.desc("c"), "token")).cast("long"),
        )
        .select("token", "id")
    )
    enc = pos.join(F.broadcast(vocab), pos["tok"] == vocab["token"], "left")
    dec_vocab = F.broadcast(
        vocab.select(F.col("id").alias("did"), F.col("token").alias("dtok"))
    )
    dec = (
        enc.select("doc_id", "pos", "id")
        .join(dec_vocab, F.col("id") == F.col("did"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unk"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos",
                                F.coalesce("dtok", F.lit("<unk>")).alias("tk"),
                            )
                        )
                    ),
                    lambda x: x.tk,
                ),
                " ",
            ).alias("decoded"),
        )
    )
    orig = t(spark, sf_dir, "documents").select(
        "doc_id", F.array_join(_toks(), " ").alias("norm_text")
    )
    return dec.join(orig, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_unk",
        (
            (F.col("n_unk") == 0) & (F.col("decoded") == F.col("norm_text"))
        ).alias("roundtrip_exact"),
    )


@register(
    "embedding_matryoshka_truncate",
    """
    WITH comps AS (
      SELECT vec_id, i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS q
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
    )
    SELECT vec_id,
           CAST(SUM(q * q) AS BIGINT) AS norm_full_q,
           CAST(SUM(CASE WHEN i <= 16 THEN q * q ELSE 0 END) AS BIGINT)
             AS norm_16_q,
           CAST((1000000 * SUM(CASE WHEN i <= 16 THEN q * q ELSE 0 END))
                // SUM(q * q) AS BIGINT) AS energy16_ppm,
           CAST((1000000 * SUM(CASE WHEN i <= 32 THEN q * q ELSE 0 END))
                // SUM(q * q) AS BIGINT) AS energy32_ppm
    FROM comps
    GROUP BY vec_id
    """,
    "Matryoshka (MRL) truncation audit: for every embedding, the "
    "fraction of squared norm retained by the first 16 and 32 of 64 "
    "components, in exact ppm integers over 1e-4-quantized components "
    "— the decision table for 'can this corpus serve 4x-cheaper "
    "truncated vectors?' (MRL-trained embeddings front-load energy; "
    "this measures whether THESE vectors do). Pure map-side HOF-free "
    "arithmetic; zero shuffle beyond the per-vector reduce of its own "
    "64 rows — and the Spark side never explodes at all: fixed-length "
    "slices + the same quantized fold as the Gram kernel, one "
    "projection, NO exchange (plan-gated).",
)
def embedding_matryoshka_truncate(spark, sf_dir):
    def qnorm(length: int):
        return F.aggregate(
            F.slice(F.col("embedding"), 1, length),
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + F.floor(x.cast("double") * 10000 + F.lit(0.5))
            * F.floor(x.cast("double") * 10000 + F.lit(0.5)),
        )

    return (
        t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            qnorm(64).alias("norm_full_q"),
            qnorm(16).alias("norm_16_q"),
            qnorm(32).alias("norm_32_q"),
        )
        .select(
            "vec_id",
            "norm_full_q",
            "norm_16_q",
            F.expr("(1000000 * norm_16_q) div norm_full_q").alias(
                "energy16_ppm"
            ),
            F.expr("(1000000 * norm_32_q) div norm_full_q").alias(
                "energy32_ppm"
            ),
        )
    )


@register(
    "tokenizer_fertility",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(str_split_regex(text, '\\s+'),
                                    x -> x <> ''))) AS BIGINT) AS n_words,
           CAST(SUM(len(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
             AS n_subwords,
           CAST((1000000 * SUM(len(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))))
                // SUM(len(list_filter(str_split_regex(text, '\\s+'),
                                       x -> x <> ''))) AS BIGINT)
             AS fertility_ppm,
           CAST((1000000 * SUM(n_chars))
                // SUM(len(regexp_extract_all(text,
                     '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
             AS chars_per_subword_ppm
    FROM documents
    GROUP BY lang
    """,
    "Tokenizer fertility by language — the standard multilingual-"
    "tokenizer equity metric (subwords emitted per whitespace word; "
    "high fertility = that language pays more sequence length per "
    "word): per lang, exact ppm ratios of BPE-ish pretokenizer tokens "
    "(letter runs / digit runs / single punctuation — the same scheme "
    "as text_token_bpe) over words, plus chars-per-subword "
    "(compression). One map-side projection + one small per-lang "
    "aggregate; the shuffle carries |langs| pre-reduced rows.",
)
def tokenizer_fertility(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.functions.text import token_count

    docs = t(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        token_count("text").alias("w"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])"), 1
            )
        )
        .cast("long")
        .alias("s"),
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("s").cast("long").alias("n_subwords"),
        F.expr("(1000000 * sum(s)) div sum(w)").alias("fertility_ppm"),
        F.expr("(1000000 * sum(n_chars)) div sum(s)").alias(
            "chars_per_subword_ppm"
        ),
    )


@register(
    "chunk_stitch_detect",
    """
    WITH chunks AS (
      SELECT doc_id, CAST(start AS INT) AS chunk_start,
             substr(text, CAST(start AS INT) + 1, 200) AS chunk
      FROM (SELECT doc_id, text, unnest(range(0, n_chars, 150)) AS start
            FROM documents WHERE n_chars > 0) exploded
    ), tails AS (
      SELECT doc_id AS a_doc, chunk_start AS a_start,
             substr(chunk, 151, 50) AS seam
      FROM chunks WHERE len(chunk) = 200
    ), heads AS (
      SELECT doc_id AS b_doc, chunk_start AS b_start,
             substr(chunk, 1, 50) AS seam
      FROM chunks WHERE len(chunk) >= 50
    )
    SELECT a_doc, a_start, b_doc, b_start,
           (a_doc = b_doc AND b_start = a_start + 150) AS adjacent
    FROM tails JOIN heads USING (seam)
    WHERE NOT (a_doc = b_doc AND a_start = b_start)
    """,
    "Chunk-stitch detection — the inverse of doc_chunk_overlap and the "
    "dedup problem overlapped chunking creates: given content-chunked "
    "rows (200-char windows every 150 chars, 50-char overlap), find "
    "every (chunk A, chunk B) pair where A's 50-char tail equals B's "
    "50-char head PURELY FROM CONTENT — recovering the stitch order of "
    "a shredded corpus and flagging cross-document boundary "
    "coincidences (mirrors/templates) in the same pass; the 'adjacent' "
    "column verifies detection against ground truth. Plan: one "
    "generator fan-out, one equi-join on the fixed-width seam string "
    "(at 100 TB: join on its 64-bit hash with verify-equality, same "
    "shuffle narrowing as the minhash band join). Self-pairs excluded.",
)
def chunk_stitch_detect(spark, sf_dir):
    chunks = (
        t(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0), (F.col("n_chars") - 1).cast("int"), F.lit(150)
                )
            ).alias("chunk_start"),
            "text",
        )
        .select(
            "doc_id",
            "chunk_start",
            F.substring(F.col("text"), F.col("chunk_start") + 1, 200).alias(
                "chunk"
            ),
        )
    )
    tails = chunks.where(F.length("chunk") == 200).select(
        F.col("doc_id").alias("a_doc"),
        F.col("chunk_start").alias("a_start"),
        F.substring("chunk", 151, 50).alias("seam"),
    )
    heads = chunks.where(F.length("chunk") >= 50).select(
        F.col("doc_id").alias("b_doc"),
        F.col("chunk_start").alias("b_start"),
        F.substring("chunk", 1, 50).alias("seam"),
    )
    return (
        tails.join(heads, "seam")
        .where(
            ~(
                (F.col("a_doc") == F.col("b_doc"))
                & (F.col("a_start") == F.col("b_start"))
            )
        )
        .select(
            "a_doc",
            "a_start",
            "b_doc",
            "b_start",
            (
                (F.col("a_doc") == F.col("b_doc"))
                & (F.col("b_start") == F.col("a_start") + 150)
            ).alias("adjacent"),
        )
    )


# ---------------------------------------------------------------------------
# Privacy: k-anonymity / l-diversity audit
# ---------------------------------------------------------------------------


@register(
    "privacy_k_anonymity",
    """
    SELECT event_type,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_bucket,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l_users,
           (COUNT(*) < 10 OR COUNT(DISTINCT user_id) < 3) AS suppress
    FROM events
    GROUP BY 1, 2
    """,
    "Privacy audit before releasing an event dataset keyed by "
    "quasi-identifiers: per (event_type, day) cell, k-anonymity (group "
    "size k — how many records share these QIs) and l-diversity "
    "(distinct users — whether the sensitive attribute is actually "
    "varied inside the cell), plus the suppression verdict (k < 10 or "
    "l < 3 -> the cell must be generalized or dropped before release). "
    "The governance sibling of pseudonymize_keys and "
    "gdpr_delete_propagation: pseudonymization alone does not stop "
    "re-identification when a QI cell is small. One hash aggregate "
    "with a distinct-agg (Spark expands to two-phase partial "
    "aggregation); day bucketing is timezone-free epoch arithmetic.",
)
def privacy_k_anonymity(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(ts div 1000) div 86400000000").alias("day_bucket"),
        "user_id",
    )
    return ev.groupBy("event_type", "day_bucket").agg(
        F.count(F.lit(1)).alias("k"),
        F.countDistinct("user_id").alias("l_users"),
        (
            (F.count(F.lit(1)) < 10) | (F.countDistinct("user_id") < 3)
        ).alias("suppress"),
    )


# ---------------------------------------------------------------------------
# Dataset datasheet (release card aggregate)
# ---------------------------------------------------------------------------


@register(
    "corpus_datasheet",
    f"""
    WITH base AS (
      SELECT source, lang, n_chars,
             len({_TOKS_SQL}) AS n_words,
             md5(text) AS h
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
           CAST((1000000 * (COUNT(*) - COUNT(DISTINCT h))) // COUNT(*)
                AS BIGINT) AS dup_ppm
    FROM base GROUP BY source
    """,
    "Dataset datasheet / release card (Gebru et al., 'Datasheets for "
    "Datasets'): per source shard, the headline numbers a corpus "
    "release publishes — document and language counts, char/word "
    "volumes, length extremes, and the exact-duplicate rate (ppm, via "
    "content-hash distinct) — in ONE pass over the corpus. The "
    "one-stop companion to profile_table (which profiles columns, not "
    "release semantics). Plan: single hash aggregate keyed by source "
    "with two distinct-aggs (Spark expands-and-reduces both in the "
    "same two-phase plan); everything else is algebraic, so map-side "
    "partials carry the weight at 100 TB.",
)
def corpus_datasheet(spark, sf_dir):
    base = t(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "n_chars",
        F.size(_toks()).alias("n_words"),
        F.md5("text").alias("h"),
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
        F.expr(
            "(1000000 * (count(1) - count(DISTINCT h))) div count(1)"
        ).alias("dup_ppm"),
    )


# ---------------------------------------------------------------------------
# Python UDTF under the exact gate (§2.11 extension surface)
# ---------------------------------------------------------------------------


@register(
    "udtf_sentence_split",
    """
    SELECT doc_id,
           CAST(i - 1 AS INTEGER) AS sent_idx,
           parts[i] AS sentence,
           CAST(len(parts[i]) AS BIGINT) AS n_chars
    FROM (SELECT doc_id, str_split(text, '. ') AS parts FROM documents),
         LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i) g
    """,
    "Python UDTF (table function, Spark 3.5+/4) IN the exact gate — "
    "the §2.11 extension surface promoted from tests-only: a lateral "
    "UDTF fans each document out to sentence rows (split on '. ', "
    "ordinal + char count), proving the row-expanding extension point "
    "round-trips the gate bit-exactly. Deliberately allowlisted in the "
    "no-Python-UDF plan gate: THIS entry exists to exercise the UDTF "
    "surface itself; the production path for this transform is the "
    "relational posexplode(split(...)) (doc_chunk_overlap / "
    "j4b_posexplode), which is what every other entry uses.",
)
def udtf_sentence_split(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: long, sent_idx: int, sentence: string, n_chars: long")
    class SplitSentences:
        def eval(self, doc_id, text):
            for i, s in enumerate((text or "").split(". ")):
                yield doc_id, i, s, len(s)

    spark.udtf.register("split_sentences_udtf", SplitSentences)
    t(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT s.doc_id, s.sent_idx, s.sentence, s.n_chars "
        "FROM _udtf_docs, LATERAL split_sentences_udtf(doc_id, text) s"
    )


# ---------------------------------------------------------------------------
# Round-6 batch 3: URL dedup, k-fold assignment, mergeable KMV union,
# MAD anomaly screen
# ---------------------------------------------------------------------------


@register(
    "dedup_url_exact",
    """
    WITH u AS (
      SELECT doc_id,
             'https://WWW.' || source || '.Example.com/page/' || lang
               || '/' || CAST(n_chars % 50 AS VARCHAR) || '?session=abc#top'
               AS url
      FROM documents
    ), canon AS (
      SELECT doc_id,
             lower(split_part(split_part(url, '//', 2), '?', 1)) AS curl
      FROM u
    )
    SELECT curl,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM canon GROUP BY curl
    """,
    "URL-keyed exact dedup — the crawl-frontier twin of content dedup "
    "(dedup_exact): canonicalize (lowercase host, strip query+fragment) "
    "and keep one fetch per canonical URL (min doc_id) with the "
    "duplicate count — run BEFORE fetching at crawl time, where content "
    "hashes don't exist yet. Synthetic URLs collide on (source, lang, "
    "n_chars bucket) so the dedup is observable. Same one-shuffle "
    "fixed-width-key shape as dedup_exact; Spark side canonicalizes "
    "with the real parse_url built-ins.",
)
def dedup_url_exact(spark, sf_dir):
    url = F.concat(
        F.lit("https://WWW."), F.col("source"), F.lit(".Example.com/page/"),
        F.col("lang"), F.lit("/"), (F.col("n_chars") % 50).cast("string"),
        F.lit("?session=abc#top"),
    )
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", url.alias("url"))
        .select(
            "doc_id",
            F.concat(
                F.lower(F.parse_url("url", F.lit("HOST"))),
                F.parse_url("url", F.lit("PATH")),
            ).alias("curl"),
        )
        .groupBy("curl")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "split_kfold_assign",
    """
    SELECT CAST(((doc_id % 2147483648) * 2654435761) % 5 AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY 1
    """,
    "Deterministic k-fold cross-validation assignment (k=5): fold = "
    "Knuth-multiplicative-hash(doc_id) mod k — no RNG, so every rerun, "
    "engine, and partitioning yields identical folds (the property "
    "sample_hash_split establishes for train/test, extended to CV), "
    "plus per-fold balance stats (doc count, char volume, language "
    "coverage) — the sanity report before trusting CV variance. One "
    "map-side hash + one k-row aggregate.",
)
def split_kfold_assign(spark, sf_dir):
    fold = ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % 5
    return (
        t(spark, sf_dir, "documents")
        .select(fold.alias("fold"), "n_chars", "lang")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@register(
    "sketch_kmv_merge",
    """
    WITH h AS (
      SELECT source,
             ((doc_id % 2147483648) * 2654435761) % 4294967296 AS hv
      FROM documents
    ), per_source AS (
      SELECT source, hv,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
      FROM (SELECT DISTINCT source, hv FROM h)
    ), sketches AS (
      SELECT source, hv FROM per_source WHERE rn <= 32
    ), merged AS (
      SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
      FROM (SELECT DISTINCT hv FROM sketches)
    ), est AS (
      SELECT CAST((32 - 1) * 4294967296 // MAX(hv) AS BIGINT) AS est_distinct
      FROM merged WHERE rn <= 32
    ), exact AS (
      SELECT CAST(COUNT(DISTINCT hv) AS BIGINT) AS n_exact FROM h
    )
    SELECT est.est_distinct, exact.n_exact
    FROM est, exact
    """,
    "KMV sketch MERGEABILITY — the property that makes sketches work "
    "at 100 TB: each source shard keeps only its 32 smallest distinct "
    "hash values (a bottom-k sketch), the per-shard sketches merge by "
    "union + re-take-bottom-32 (NO access to raw data), and the merged "
    "sketch estimates global distinct count as (k-1)*2^32 // kth_min — "
    "audited against the exact distinct count in the same result row. "
    "Extends sketch_kmv_distinct (single-pass global sketch) to the "
    "distributed merge path: shard sketches are k-row artifacts, so "
    "combining S shards moves S*k rows instead of the corpus. Integer "
    "arithmetic end to end.",
)
def sketch_kmv_merge(spark, sf_dir):
    k = 32
    h = t(spark, sf_dir, "documents").select(
        "source",
        (
            ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296)
        ).alias("hv"),
    )
    per_source = (
        h.distinct()
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("source").orderBy("hv")
            ),
        )
        .where(F.col("rn") <= k)
        .select("source", "hv")
    )
    merged = (
        per_source.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(W.orderBy("hv")))
        .where(F.col("rn") <= k)
    )
    est = merged.agg(
        F.expr(f"CAST(({k} - 1) * 4294967296 div MAX(hv) AS BIGINT)").alias(
            "est_distinct"
        )
    )
    exact = h.select("hv").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return est.crossJoin(exact)


@register(
    "events_anomaly_mad",
    """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
    ), med AS (
      SELECT user_id,
             CAST(floor(median(vc)) AS BIGINT) AS med_c
      FROM e GROUP BY user_id
    ), dev AS (
      SELECT e.user_id, e.event_id, e.vc, m.med_c,
             abs(e.vc - m.med_c) AS adev
      FROM e JOIN med m USING (user_id)
    ), mad AS (
      SELECT user_id, CAST(floor(median(adev)) AS BIGINT) AS mad_c
      FROM dev GROUP BY user_id
    )
    SELECT d.user_id, d.event_id, d.vc,
           (d.adev > 5 * NULLIF(ma.mad_c, 0)) AS is_anomaly
    FROM dev d JOIN mad ma USING (user_id)
    WHERE d.adev > 5 * NULLIF(ma.mad_c, 0)
    """,
    "Robust per-user anomaly screen: flag events whose integer-cents "
    "value deviates from the USER's median by more than 5x the user's "
    "median absolute deviation — the outlier filter that survives the "
    "heavy tails that break z-scores (extends a26's MAD stats into a "
    "row-level verdict; fraud/telemetry triage shape). Medians are "
    "floored to exact integers; users with MAD 0 (constant values) "
    "flag nothing via NULLIF — a constant series has no outliers by "
    "this definition. Two grouped exact-median passes + one row-level "
    "join; at 100 TB the medians come from the same grouped sort "
    "machinery as winsorize_doc_lengths.",
)
def events_anomaly_mad(spark, sf_dir):
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", cents("value").alias("vc")
    )
    med = e.groupBy("user_id").agg(
        F.floor(F.expr("median(vc)")).cast("long").alias("med_c")
    )
    dev = e.join(med, "user_id").select(
        "user_id",
        "event_id",
        "vc",
        F.abs(F.col("vc") - F.col("med_c")).alias("adev"),
    )
    mad = dev.groupBy("user_id").agg(
        F.floor(F.expr("median(adev)")).cast("long").alias("mad_c")
    )
    return (
        dev.join(mad, "user_id")
        .where(
            F.col("adev")
            > 5 * F.when(F.col("mad_c") != 0, F.col("mad_c"))
        )
        .select(
            "user_id",
            "event_id",
            "vc",
            (
                F.col("adev")
                > 5 * F.when(F.col("mad_c") != 0, F.col("mad_c"))
            ).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data export: sharded JSONL with checksummed manifest
# ---------------------------------------------------------------------------


@register(
    "export_jsonl_manifest",
    """
    WITH ordered AS (
      SELECT doc_id,
             ((doc_id % 2147483648) * 2654435761) % 4294967296 AS hv,
             ROW_NUMBER() OVER (
               ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
                        doc_id
             ) - 1 AS pos
      FROM documents
    ), sharded AS (
      SELECT doc_id, pos // 100 AS shard,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS doc_h
      FROM ordered
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(SUM(doc_h) AS BIGINT) AS content_checksum
    FROM sharded GROUP BY shard
    """,
    "Training-data EXPORT manifest — the last mile: documents are "
    "assigned to fixed-size JSONL shards (100 rows) in deterministic "
    "hash order (the same no-RNG shuffle as corpus_shuffle_shards, so "
    "reruns produce byte-identical shards), and the manifest row per "
    "shard carries row count, id range, and an order-independent "
    "integer content checksum (sum of per-doc md5-derived hashes) — "
    "what a consumer verifies before training starts and what "
    "corpus_merkle_tree extends to O(log n) proofs. The entry RETURNS "
    "the manifest (the oracle-checkable artifact); the physical JSONL "
    "write is df.write.partitionBy('shard').json(...) on the same "
    "frame — a sink call, not a different plan. The global-order "
    "window is the one global sort an export inherently needs (at "
    "100 TB: a range-partitioned sort, Spark's TeraSort machinery).",
)
def export_jsonl_manifest(spark, sf_dir):
    hv = (
        (F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)
    ) % F.lit(4294967296)
    ordered = (
        t(spark, sf_dir, "documents")
        .select("doc_id", hv.alias("hv"))
        .withColumn(
            "pos",
            F.row_number().over(W.orderBy("hv", "doc_id")) - 1,
        )
    )
    sharded = ordered.select(
        "doc_id",
        F.expr("pos div 100").alias("shard"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("doc_h"),
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum("doc_h").alias("content_checksum"),
    )


@register(
    "stats_partial_merge",
    """
    WITH partials AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s1,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY source
    ), merged AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(s1) AS BIGINT) AS s1,
             CAST(SUM(s2) AS BIGINT) AS s2
      FROM partials
    ), direct AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s1,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents
    )
    SELECT m.n, m.s1, m.s2,
           CAST((1000000 * m.s1) // m.n AS BIGINT) AS mean_ppm,
           CAST((m.n * m.s2 - m.s1 * m.s1) // (m.n * m.n) AS BIGINT)
             AS var_floor,
           (m.n = d.n AND m.s1 = d.s1 AND m.s2 = d.s2) AS merge_exact
    FROM merged m, direct d
    """,
    "Mergeable moment statistics — the algebraic-aggregation property "
    "that makes distributed statistics correct: per-source partial "
    "sketches (n, sum, sum of squares — exact integers) merge by plain "
    "addition WITHOUT touching raw data, and the merged moments "
    "reconstruct global mean (ppm) and variance (floored population "
    "form (n*s2 - s1^2) / n^2) bit-identically to a direct global "
    "pass — asserted in-row by the merge_exact verdict. The same "
    "contract Spark's own partial aggregation relies on, made explicit "
    "as the statistics sibling of sketch_kmv_merge: shard artifacts "
    "are 3 integers, so combining S shards moves 3S values. "
    "Welford-style streaming variance follows from these sums without "
    "a second pass.",
)
def stats_partial_merge(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    partials = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    merged = partials.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s1").cast("long").alias("s1"),
        F.sum("s2").cast("long").alias("s2"),
    )
    direct = docs.agg(
        F.count(F.lit(1)).alias("dn"),
        F.sum("n_chars").cast("long").alias("ds1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("ds2"),
    )
    return merged.crossJoin(direct).select(
        "n",
        "s1",
        "s2",
        F.expr("(1000000 * s1) div n").alias("mean_ppm"),
        F.expr("(n * s2 - s1 * s1) div (n * n)").alias("var_floor"),
        (
            (F.col("n") == F.col("dn"))
            & (F.col("s1") == F.col("ds1"))
            & (F.col("s2") == F.col("ds2"))
        ).alias("merge_exact"),
    )


@register(
    "drift_snapshot_stats",
    """
    WITH halves AS (
      SELECT CASE WHEN epoch_us(ts) <= (SELECT CAST(floor(median(epoch_us(ts)))
                                               AS BIGINT) FROM events)
                  THEN 0 ELSE 1 END AS half,
             event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS vc,
             user_id
      FROM events
    ), per AS (
      SELECT half, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST((1000000 * SUM(vc)) // COUNT(*) AS BIGINT) AS mean_c_ppm,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM halves GROUP BY 1, 2
    )
    SELECT a.event_type,
           a.n AS n_before, b.n AS n_after,
           a.mean_c_ppm AS mean_before_ppm, b.mean_c_ppm AS mean_after_ppm,
           CAST(abs(b.mean_c_ppm - a.mean_c_ppm) AS BIGINT) AS mean_drift_ppm,
           CAST(abs(1000000 * b.n // a.n - 1000000) AS BIGINT)
             AS volume_drift_ppm
    FROM per a JOIN per b ON a.event_type = b.event_type
    WHERE a.half = 0 AND b.half = 1
    """,
    "Data-drift monitor between two snapshots (the MLOps check that "
    "catches silent upstream changes before they poison training): the "
    "event stream splits at its median timestamp into before/after "
    "halves, and per event_type the monitor reports volume and "
    "mean-value drift in exact ppm integers — per-segment drift, not "
    "one global number, because drift localizes (one event type "
    "changing units while totals look stable). The median split makes "
    "the entry self-contained; production compares yesterday's "
    "partition to today's with identical code. Two grouped aggregates "
    "+ one tiny self-join on the segment key.",
)
def drift_snapshot_stats(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        F.expr("ts div 1000").alias("us"),
        "event_type",
        cents("value").alias("vc"),
        "user_id",
    )
    med = ev.agg(
        F.floor(F.expr("median(us)")).cast("long").alias("m")
    )
    halves = ev.crossJoin(F.broadcast(med)).select(
        F.when(F.col("us") <= F.col("m"), 0).otherwise(1).alias("half"),
        "event_type",
        "vc",
        "user_id",
    )
    per = halves.groupBy("half", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("(1000000 * sum(vc)) div count(1)").alias("mean_c_ppm"),
        F.countDistinct("user_id").alias("n_users"),
    )
    a = per.where(F.col("half") == 0).select(
        "event_type",
        F.col("n").alias("n_before"),
        F.col("mean_c_ppm").alias("mean_before_ppm"),
    )
    b = per.where(F.col("half") == 1).select(
        "event_type",
        F.col("n").alias("n_after"),
        F.col("mean_c_ppm").alias("mean_after_ppm"),
    )
    return a.join(b, "event_type").select(
        "event_type",
        "n_before",
        "n_after",
        "mean_before_ppm",
        "mean_after_ppm",
        F.abs(F.col("mean_after_ppm") - F.col("mean_before_ppm")).alias(
            "mean_drift_ppm"
        ),
        F.abs(
            F.expr("1000000 * n_after div n_before - 1000000")
        ).alias("volume_drift_ppm"),
    )


@register(
    "ab_test_metrics",
    """
    WITH assigned AS (
      SELECT CASE WHEN ((user_id % 2147483648) * 2654435761) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             user_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
    ), per_user AS (
      SELECT arm, user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN vc ELSE 0 END)
                  AS BIGINT) AS revenue_c
      FROM assigned GROUP BY 1, 2
    )
    SELECT arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST((1000000 * SUM(converted)) // COUNT(*) AS BIGINT)
             AS conversion_ppm,
           CAST(SUM(revenue_c) AS BIGINT) AS revenue_c,
           CAST(SUM(revenue_c) // COUNT(*) AS BIGINT) AS arpu_c
    FROM per_user GROUP BY arm
    """,
    "A/B experiment readout: users assigned to arms by the "
    "deterministic Knuth hash (the no-RNG assignment every entry in "
    "the sampling family uses — assignment is reproducible and "
    "balanced without storing an allocation table), then per arm: "
    "user-level conversion (any purchase), conversion rate ppm, "
    "revenue, ARPU in integer cents. User-level first (per_user "
    "aggregate) because event-level rates double-count heavy users — "
    "the classic A/B pitfall. The z-test on these exact counts is a "
    "driver-side formula (same exact-components policy as "
    "eval_bleu_components). Two hash aggregates, both map-side "
    "partial.",
)
def ab_test_metrics(spark, sf_dir):
    arm = F.when(
        ((F.col("user_id") % F.lit(2147483648)) * F.lit(2654435761)) % 2 == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    per_user = (
        t(spark, sf_dir, "events")
        .select(arm.alias("arm"), "user_id", "event_type", cents("value").alias("vc"))
        .groupBy("arm", "user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("vc")).otherwise(0)
            )
            .cast("long")
            .alias("revenue_c"),
        )
    )
    return per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.expr("(1000000 * sum(converted)) div count(1)").alias(
            "conversion_ppm"
        ),
        F.sum("revenue_c").cast("long").alias("revenue_c"),
        F.expr("sum(revenue_c) div count(1)").alias("arpu_c"),
    )


@register(
    "graph_degree_distribution",
    """
    WITH pairs AS (
      SELECT DISTINCT 2 * l_suppkey AS s, 2 * o_custkey + 1 AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT s AS src, c AS dst FROM pairs
      UNION
      SELECT c AS src, s AS dst FROM pairs
    ), deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM edges GROUP BY src
    )
    SELECT degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
    "Degree distribution of the supplier<->customer graph — the "
    "first-look audit before ANY graph algorithm runs (it decides "
    "whether PageRank needs skew salting, whether triangle counting's "
    "degree-ordered orientation pays, and what the LSH-style band "
    "caps should be): per-node degree then the frequency of each "
    "degree — the table a power-law fit reads. Two hash aggregates, "
    "both map-side partial; the degree-keyed second aggregate is "
    "vocabulary-sized.",
)
def graph_degree_distribution(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    # no distinct after the union: pairs is already distinct, and the
    # two arms live in DISJOINT node-id spaces — PARITY encoding
    # (2s even / 2c+1 odd, the graph_personalized_pagerank r12 fix;
    # ADVICE r13: the previous custkey + 1e6 offset collides once
    # replica suppkeys pass 1e6, making the no-distinct optimization
    # data luck) — so (s, c) can never collide with a reversed
    # (c', s') AT ANY SCALE: the SQL oracle's UNION dedup is a
    # structural no-op, and skipping it saves a full exchange over the
    # doubled edge list (the r12 100x sweep measured this entry at
    # 118 s; the dedup shuffle was a third of the plan). Output is
    # (degree, n_nodes) — invariant under any injective relabeling,
    # so the encoding swap changes no result row.
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).union(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "dedup_shingle_containment",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' '))
      )) AS s
      FROM tk WHERE len(toks) >= 3
    ), szs AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nsh FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS ninter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           CAST((1000000 * i.ninter) // za.nsh AS BIGINT)
             AS containment_a_ppm,
           CAST((1000000 * i.ninter) // zb.nsh AS BIGINT)
             AS containment_b_ppm
    FROM inter i
    JOIN szs za ON za.doc_id = i.id_a
    JOIN szs zb ON zb.doc_id = i.id_b
    WHERE (1000000 * i.ninter) // za.nsh >= 800000
       OR (1000000 * i.ninter) // zb.nsh >= 800000
    """,
    "Asymmetric shingle CONTAINMENT dedup (Broder's containment, the "
    "measure Jaccard misses): |A∩B|/|A| per ordered pair — a short "
    "document wholly quoted inside a long one scores containment ~1 "
    "while its Jaccard stays tiny, so symmetric near-dup passes keep "
    "both copies. Pairs with >= 80% containment in either direction "
    "are flagged (ppm integers). Candidate generation here is the "
    "UNCAPPED shingle equi-join — quadratic in posting-list length "
    "(one shingle held by d docs emits d^2/2 join rows), measured "
    "pathological at the 500 k-doc 100x replica — so this entry is "
    "the gate-scale exact form; the PRODUCTION form is "
    "dedup_containment_capped (rare-shingle candidate blocking + "
    "exact full-set rescore, identical results at gate scale).",
)
def dedup_shingle_containment(spark, sf_dir, max_posting_len: int = 2_000):
    sh = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(toks) - 3), i -> "
                        "array_join(slice(toks, i + 1, 3), ' '))"
                    )
                )
            ).alias("s"),
        )
    )
    # quadratic guard (the ngram_jaccard_pairs doctrine, round 12): a
    # posting list of d docs emits d^2/2 join rows, so any shingle
    # hotter than max_posting_len fails the job loudly instead of
    # silently burning hours — the 100x replica measured exactly that.
    # Gate corpora (<= 5000 docs) can never trip it; production uses
    # dedup_containment_capped.
    hot = sh.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    sh = (
        sh.join(hot, "s")
        .where(
            F.assert_true(
                F.col("_df") <= F.lit(max_posting_len),
                F.concat(
                    F.lit(
                        "dedup_shingle_containment: a shingle posting "
                        f"list exceeds max_posting_len={max_posting_len} "
                        "(got "
                    ),
                    F.col("_df").cast("string"),
                    F.lit(
                        " docs); use dedup_containment_capped (DF-capped "
                        "candidates + exact rescore)"
                    ),
                ),
            ).isNull()
        )
        .drop("_df")
    )
    szs = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s2"))
    inter = (
        a.join(b, (F.col("s") == F.col("s2")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    out = (
        inter.join(
            szs.select(F.col("doc_id").alias("id_a"), F.col("nsh").alias("nsh_a")),
            "id_a",
        )
        .join(
            szs.select(F.col("doc_id").alias("id_b"), F.col("nsh").alias("nsh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.expr("(1000000 * ninter) div nsh_a").alias("containment_a_ppm"),
            F.expr("(1000000 * ninter) div nsh_b").alias("containment_b_ppm"),
        )
    )
    return out.where(
        (F.col("containment_a_ppm") >= 800000)
        | (F.col("containment_b_ppm") >= 800000)
    )


def containment_df_cap(n_docs: int) -> int:
    """Document-frequency cap for containment candidate generation —
    corpus-relative like the IVF/codebook knobs, replayed from COUNT(*)
    by the oracle: shingles held by more than this many documents are
    too common to generate candidates from (a shingle with document
    frequency d produces d^2/2 join rows — the round-12 100x sweep
    measured the uncapped join pathological at 500 k docs)."""
    return max(16, min(128, n_docs // 30))


@register(
    "dedup_containment_capped",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' '))
      )) AS s
      FROM tk WHERE len(toks) >= 3
    ), cap AS (
      SELECT GREATEST(16, LEAST(128, COUNT(*) // 30)) AS c FROM documents
    ), rare AS (
      SELECT doc_id, s FROM sh
      WHERE s IN (SELECT s FROM sh GROUP BY s
                  HAVING COUNT(*) <= (SELECT c FROM cap))
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
    ), szs AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nsh FROM sh GROUP BY 1
    ), inter AS (
      SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS ninter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           CAST((1000000 * i.ninter) // za.nsh AS BIGINT)
             AS containment_a_ppm,
           CAST((1000000 * i.ninter) // zb.nsh AS BIGINT)
             AS containment_b_ppm
    FROM inter i
    JOIN szs za ON za.doc_id = i.id_a
    JOIN szs zb ON zb.doc_id = i.id_b
    WHERE (1000000 * i.ninter) // za.nsh >= 800000
       OR (1000000 * i.ninter) // zb.nsh >= 800000
    """,
    "PRODUCTION form of dedup_shingle_containment (round-12 100x sweep "
    "finding: the uncapped shingle equi-join is quadratic in posting-"
    "list length — one shingle held by d documents emits d^2/2 join "
    "rows, pathological at the 500 k-doc replica). Candidate pairs "
    "must share at least one RARE shingle (document frequency <= a "
    "corpus-relative cap, containment_df_cap — the prefix-filtering / "
    "stop-shingle doctrine of blocked entity resolution); flagged "
    "candidates are then re-scored EXACTLY on their FULL shingle sets, "
    "so precision is identical to the exact entry and recall misses "
    "only pairs whose every shared shingle is hotter than the cap. "
    "Shuffle bound: candidate volume <= cap x |postings| instead of "
    "sum of posting-length^2; the rescore join fans out candidates by "
    "shingles-per-doc, never doc-count. Both knobs replay from "
    "COUNT(*) in the oracle.",
)
def dedup_containment_capped(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    cap = containment_df_cap(docs.count())
    sh = (
        docs.select("doc_id", _toks().alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(toks) - 3), i -> "
                        "array_join(slice(toks, i + 1, 3), ' '))"
                    )
                )
            ).alias("s"),
        )
    )
    rare = sh.join(
        sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(
            F.col("df") <= cap
        ).select("s"),
        "s",
    )
    cand = (
        rare.select(F.col("doc_id").alias("id_a"), "s")
        .join(
            rare.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s2")),
            (F.col("s") == F.col("s2")) & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    szs = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"), "s"), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), "s"), ["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    out = (
        inter.join(
            szs.select(F.col("doc_id").alias("id_a"), F.col("nsh").alias("nsh_a")),
            "id_a",
        )
        .join(
            szs.select(F.col("doc_id").alias("id_b"), F.col("nsh").alias("nsh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.expr("(1000000 * ninter) div nsh_a").alias("containment_a_ppm"),
            F.expr("(1000000 * ninter) div nsh_b").alias("containment_b_ppm"),
        )
    )
    return out.where(
        (F.col("containment_a_ppm") >= 800000)
        | (F.col("containment_b_ppm") >= 800000)
    )


@register(
    "split_walk_forward",
    """
    WITH e AS (
      SELECT event_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events
    ), bounds AS (
      SELECT MIN(day) AS d0 FROM e
    ), folds AS (
      SELECT CAST(f AS BIGINT) AS fold FROM range(0, 3) t(f)
    )
    SELECT f.fold,
           CASE WHEN e.day < b.d0 + 7 + f.fold * 7 THEN 'train'
                ELSE 'test' END AS role,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(e.day) AS BIGINT) AS min_day,
           CAST(MAX(e.day) AS BIGINT) AS max_day
    FROM e, bounds b, folds f
    WHERE e.day < b.d0 + 7 + (f.fold + 1) * 7
    GROUP BY 1, 2
    """,
    "Walk-forward (rolling-origin) backtest splits — the TEMPORAL "
    "cross-validation k-fold hashing cannot give you (training on the "
    "future leaks): 3 folds, each training on everything before its "
    "cutoff (first week + fold*7 days) and testing on the following "
    "week, reported as per-(fold, role) counts and day ranges. "
    "Deterministic pure date arithmetic off the corpus's own min day; "
    "the events x 3-row fold spine is a bounded broadcast "
    "constant-append. The evaluation sibling of split_kfold_assign "
    "and the scheduling shape behind every time-series model refresh.",
)
def split_walk_forward(spark, sf_dir):
    e = t(spark, sf_dir, "events").select(
        "event_id",
        F.expr("(ts div 1000) div 86400000000").alias("day"),
    )
    bounds = e.agg(F.min("day").alias("d0"))
    folds = spark.range(0, 3).select(F.col("id").alias("fold"))
    joined = (
        e.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(folds))
        .where(F.col("day") < F.col("d0") + 7 + (F.col("fold") + 1) * 7)
    )
    return (
        joined.select(
            "fold",
            F.when(
                F.col("day") < F.col("d0") + 7 + F.col("fold") * 7, "train"
            )
            .otherwise("test")
            .alias("role"),
            "day",
        )
        .groupBy("fold", "role")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
    )


@register(
    "graph_link_prediction",
    """
    WITH pairs AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000 AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), cn AS (
      SELECT a.s AS u, b.s AS v, CAST(COUNT(*) AS BIGINT) AS common
      FROM pairs a JOIN pairs b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
    ), deg AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM pairs GROUP BY s
    )
    SELECT cn.u, cn.v, cn.common,
           CAST((1000000 * cn.common)
                // (du.d + dv.d - cn.common) AS BIGINT) AS jaccard_ppm
    FROM cn
    JOIN deg du ON du.s = cn.u
    JOIN deg dv ON dv.s = cn.v
    WHERE cn.common >= 3
    """,
    "Link prediction by common-neighbor / Jaccard scoring (the "
    "Liben-Nowell & Kleinberg baseline that collaborative-filtering "
    "candidate generation still runs on): supplier pairs sharing >= 3 "
    "customers, scored by |N(u) n N(v)| and Jaccard over neighbor "
    "sets in ppm integers — 'suppliers serving the same customers "
    "will likely share the next one'. The wedge join (pairs joined on "
    "the shared customer) is the triangle-counting cost shape; the "
    "common>=3 support floor is the A-priori prune that keeps wedge "
    "output bounded at 100 TB.",
)
def graph_link_prediction(spark, sf_dir):
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
    a = pairs.select(F.col("s").alias("u"), "c")
    b = pairs.select(F.col("s").alias("v"), F.col("c").alias("c2"))
    cn = (
        a.join(b, (F.col("c") == F.col("c2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= 3)
    )
    deg = pairs.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    return (
        cn.join(deg.select(F.col("s").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("s").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u",
            "v",
            "common",
            F.expr("(1000000 * common) div (du + dv - common)").alias(
                "jaccard_ppm"
            ),
        )
    )


@register(
    "feature_hashing_vectorize",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    )
    SELECT doc_id,
           CAST((('0x' || substr(md5(tok), 1, 8))::BIGINT) % 64 AS BIGINT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok GROUP BY 1, 2
    """,
    "Hashing-trick vectorization (Weinberger et al., ICML'09 — the "
    "fixed-width featurizer that needs NO vocabulary pass): every "
    "token hashes straight to one of 64 buckets (portable md5-derived "
    "hash, the same construction the dedup family shares) and the "
    "sparse (doc, bucket, count) rows ARE the feature vectors — "
    "one-pass, stateless, new tokens at serving time land in existing "
    "buckets instead of an OOV path. The no-vocabulary counterpart to "
    "tokenize_to_ids: one explode + one hash aggregate, no join, no "
    "broadcast state.",
)
def feature_hashing_vectorize(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.dedup import (
        portable_hash32,
    )

    tok = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_toks()).alias("tok"))
    )
    return (
        tok.select("doc_id", (portable_hash32("tok") % 64).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "feature_target_encode_loo",
    """
    WITH seg AS (
      SELECT user_id % 10 AS segment, event_id,
             CASE WHEN CAST(ROUND(value * 100) AS BIGINT) > 5000
                  THEN 1 ELSE 0 END AS target
      FROM events
    ), stats AS (
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(target) AS BIGINT) AS s
      FROM seg GROUP BY segment
    )
    SELECT g.event_id,
           CAST(g.segment AS BIGINT) AS segment,
           CAST(CASE WHEN st.n > 1
                THEN (1000000 * (st.s - g.target)) // (st.n - 1)
                ELSE 500000 END AS BIGINT) AS te_loo_ppm
    FROM seg g JOIN stats st ON st.segment = g.segment
    """,
    "Leave-one-out target encoding — the leakage-SAFE form of the "
    "classic tabular-ML categorical feature: each event's segment "
    "(user_id mod 10) is encoded as the target rate (value > $50) "
    "over all OTHER rows of its segment, (sum - own) / (n - 1) in "
    "exact ppm — naive target encoding leaks each row's own label "
    "into its feature and wins offline while failing online; "
    "singleton segments fall back to the 0.5 prior. One segment "
    "aggregate broadcast back onto the rows — the encoding costs one "
    "small join regardless of cardinality.",
)
def feature_target_encode_loo(spark, sf_dir):
    seg = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("segment"),
        "event_id",
        F.when(cents("value") > 5000, 1).otherwise(0).alias("target"),
    )
    stats = seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("target").alias("s")
    )
    return seg.join(F.broadcast(stats), "segment").select(
        "event_id",
        F.col("segment").cast("long").alias("segment"),
        F.when(
            F.col("n") > 1,
            F.expr("(1000000 * (s - target)) div (n - 1)"),
        )
        .otherwise(F.lit(500000))
        .cast("long")
        .alias("te_loo_ppm"),
    )


@register(
    "labels_next_event",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      FROM events
    )
    SELECT user_id, event_id, event_type,
           LEAD(event_type) OVER w AS next_event_type,
           CAST(LEAD(us) OVER w - us AS BIGINT) AS gap_us
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    """,
    "Sequence-model label generation: for every event, the NEXT event "
    "type in the user's timeline and the gap to it — the (input, "
    "label) pairs next-action prediction and churn models train on, "
    "with NULL labels marking each user's final event (the "
    "right-censored rows a survival loss needs flagged, not dropped). "
    "Deterministic ordering by (ts, event_id); one shuffle on user_id "
    "shared by both lead windows — the supervised-learning sibling of "
    "event_transition_matrix (which aggregates these same pairs).",
)
def labels_next_event(spark, sf_dir):
    from pyspark.sql import Window as Wd

    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("ts div 1000").alias("us"),
    )
    w = Wd.partitionBy("user_id").orderBy("us", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_event_type"),
        (F.lead("us").over(w) - F.col("us")).alias("gap_us"),
    )


@register(
    "dedup_tokenset_fingerprint",
    f"""
    WITH tk AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' '))
               AS set_h,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS ord_h
      FROM documents
    )
    SELECT set_h,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT ord_h) AS BIGINT) AS n_order_variants
    FROM tk GROUP BY set_h
    """,
    "Token-SET fingerprint dedup (OpenRefine's key-collision "
    "'fingerprint method'): cluster key = md5 of the sorted distinct "
    "token set, so reordered or word-shuffled duplicates — spintax "
    "rewrites, list-order churn, 'title - site' vs 'site - title' — "
    "collapse into one cluster that order-sensitive exact dedup "
    "(dedup_exact) keeps apart; n_order_variants counts the distinct "
    "order-sensitive fingerprints inside each cluster, so "
    "n_order_variants > 1 rows are exactly the reorder-dups only THIS "
    "key finds. Same one-shuffle fixed-width-hash shape as "
    "dedup_exact, with the set normalization as a map-side HOF.",
)
def dedup_tokenset_fingerprint(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.functions.text import (
        fingerprint,
    )

    tk = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(_toks())), " ")
        ).alias("set_h"),
        fingerprint("text").alias("ord_h"),
    )
    return tk.groupBy("set_h").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("ord_h").alias("n_order_variants"),
    )


@register(
    "epoch_shuffle_audit",
    """
    WITH e0 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY ((doc_id % 2147483648) * 2654435761
                         + 0 * 40503) % 4294967296, doc_id
             ) AS rn
      FROM documents
    ), e1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY ((doc_id % 2147483648) * 2654435761
                         + 1 * 40503) % 4294967296, doc_id
             ) AS rn
      FROM documents
    ), p0 AS (
      SELECT LEAST(a.doc_id, b.doc_id) AS u,
             GREATEST(a.doc_id, b.doc_id) AS v
      FROM e0 a JOIN e0 b ON b.rn = a.rn + 1
    ), p1 AS (
      SELECT LEAST(a.doc_id, b.doc_id) AS u,
             GREATEST(a.doc_id, b.doc_id) AS v
      FROM e1 a JOIN e1 b ON b.rn = a.rn + 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p0) AS n_adjacent_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM p0 JOIN p1 ON p0.u = p1.u AND p0.v = p1.v)
             AS n_repeat_adjacent
    """,
    "Multi-epoch shuffle quality audit: two deterministic training "
    "orders (epoch-salted Knuth hash — corpus_shuffle_shards' no-RNG "
    "permutation, one per epoch) compared by REPEAT ADJACENCY — how "
    "many neighboring document pairs from epoch 0 are neighbors again "
    "in epoch 1. Fixed-order training (the failure this audit "
    "catches) scores n-1; independent permutations score ~2 expected "
    "— gradient-correlation hygiene for multi-epoch LLM runs, "
    "measured exactly instead of assumed. Adjacency via the epoch-"
    "order windows, one pair equi-join; scalar results assembled "
    "without collecting anything but 3 counters.",
)
def epoch_shuffle_audit(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")

    def epoch_pairs(epoch: int):
        key = (
            (F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)
            + F.lit(epoch * 40503)
        ) % F.lit(4294967296)
        ranked = docs.select("doc_id", key.alias("hv")).withColumn(
            "rn", F.row_number().over(W.orderBy("hv", "doc_id"))
        )
        b = ranked.select(
            (F.col("rn") - 1).alias("rn_prev"), F.col("doc_id").alias("doc_b")
        )
        return (
            ranked.join(b, ranked["rn"] == b["rn_prev"])
            .select(
                F.least("doc_id", "doc_b").alias("u"),
                F.greatest("doc_id", "doc_b").alias("v"),
            )
        )

    p0, p1 = epoch_pairs(0), epoch_pairs(1)
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    n_adj = p0.agg(F.count(F.lit(1)).cast("long").alias("n_adjacent_pairs"))
    n_rep = (
        p0.join(p1, ["u", "v"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_repeat_adjacent"))
    )
    return n_docs.crossJoin(n_adj).crossJoin(n_rep)


@register(
    "index_postings_delta",
    f"""
    WITH post AS (
      SELECT tok, doc_id FROM (
        SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
      )
    ), gaps AS (
      SELECT tok, doc_id,
             doc_id - COALESCE(LAG(doc_id) OVER (
               PARTITION BY tok ORDER BY doc_id), 0) AS gap
      FROM post
    )
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS n_postings,
           CAST(8 * COUNT(*) AS BIGINT) AS raw_bytes,
           CAST(SUM(CASE WHEN gap < 128 THEN 1
                         WHEN gap < 16384 THEN 2
                         WHEN gap < 2097152 THEN 3
                         WHEN gap < 268435456 THEN 4
                         ELSE 5 END) AS BIGINT) AS varint_bytes,
           CAST((1000000 * (8 * COUNT(*)
                 - SUM(CASE WHEN gap < 128 THEN 1
                            WHEN gap < 16384 THEN 2
                            WHEN gap < 2097152 THEN 3
                            WHEN gap < 268435456 THEN 4
                            ELSE 5 END))) // (8 * COUNT(*)) AS BIGINT)
             AS savings_ppm
    FROM gaps
    WHERE tok IN (SELECT tok FROM post GROUP BY tok HAVING COUNT(*) >= 50)
    GROUP BY tok
    """,
    "Posting-list delta + varint compression audit — the storage "
    "engineering behind every inverted index (Lucene's postings "
    "format): per frequent token (>= 50 postings), doc ids become "
    "sorted GAPS and each gap's varint width (1 byte under 2^7, 2 "
    "under 2^14, ...) is summed against the raw 8-byte-per-id "
    "baseline, yielding exact ppm savings — the number that justifies "
    "sorting postings by doc id at all, and the reason "
    "inverted_index's output ordering matters. One distinct explode + "
    "one token-keyed lag window + one aggregate; frequent-token "
    "filter is the same semi-join prune as heavy_hitters_tokens.",
)
def index_postings_delta(spark, sf_dir):
    post = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_toks()).alias("tok"))
        .distinct()
    )
    frequent = post.groupBy("tok").agg(
        F.count(F.lit(1)).alias("nf")
    ).where(F.col("nf") >= 50).select("tok")
    gaps = (
        post.join(F.broadcast(frequent), "tok", "left_semi")
        .withColumn(
            "gap",
            F.col("doc_id")
            - F.coalesce(
                F.lag("doc_id").over(
                    W.partitionBy("tok").orderBy("doc_id")
                ),
                F.lit(0),
            ),
        )
    )
    vbytes = (
        F.when(F.col("gap") < 128, 1)
        .when(F.col("gap") < 16384, 2)
        .when(F.col("gap") < 2097152, 3)
        .when(F.col("gap") < 268435456, 4)
        .otherwise(5)
    )
    return gaps.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_postings"),
        (8 * F.count(F.lit(1))).alias("raw_bytes"),
        F.sum(vbytes).cast("long").alias("varint_bytes"),
        F.expr(
            "(1000000 * (8 * count(1) - sum(CASE WHEN gap < 128 THEN 1 "
            "WHEN gap < 16384 THEN 2 WHEN gap < 2097152 THEN 3 "
            "WHEN gap < 268435456 THEN 4 ELSE 5 END))) div (8 * count(1))"
        ).alias("savings_ppm"),
    )


@register(
    "eval_calibration_bins",
    """
    WITH scored AS (
      SELECT event_id,
             ((event_id % 2147483648) * 2654435761) % 1000000 AS score_ppm,
             CASE WHEN CAST(ROUND(value * 100) AS BIGINT) > 5000
                  THEN 1 ELSE 0 END AS label
      FROM events
    )
    SELECT CAST(score_ppm // 100000 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
           CAST((1000000 * SUM(label)) // COUNT(*) AS BIGINT)
             AS empirical_ppm,
           CAST(abs(SUM(score_ppm) // COUNT(*)
                    - (1000000 * SUM(label)) // COUNT(*)) AS BIGINT)
             AS gap_ppm
    FROM scored GROUP BY 1
    """,
    "Classifier calibration bins (the reliability diagram, computed "
    "exactly): every event gets a deterministic pseudo-score (Knuth "
    "hash -> ppm; the stand-in for a model's predicted probability — "
    "production swaps in the real score column) and a binary label "
    "(value > $50); scores bucket into 10 bins, each reporting count, "
    "mean predicted ppm, empirical positive rate ppm, and the "
    "calibration gap — the per-bin |confidence - accuracy| whose "
    "weighted sum is ECE (a driver-side formula over these exact "
    "components, same policy as BLEU/MRR). One map-side projection + "
    "one 10-row aggregate; completes the eval family (confusion, PR "
    "sweep, MRR, BLEU) with the probability-quality axis.",
)
def eval_calibration_bins(spark, sf_dir):
    scored = t(spark, sf_dir, "events").select(
        (
            ((F.col("event_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(1000000)
        ).alias("score_ppm"),
        F.when(cents("value") > 5000, 1).otherwise(0).alias("label"),
    )
    return (
        scored.groupBy(
            F.expr("score_ppm div 100000").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("sum(score_ppm) div count(1)").alias("mean_score_ppm"),
            F.expr("(1000000 * sum(label)) div count(1)").alias(
                "empirical_ppm"
            ),
            F.abs(
                F.expr("sum(score_ppm) div count(1)")
                - F.expr("(1000000 * sum(label)) div count(1)")
            ).alias("gap_ppm"),
        )
    )


@register(
    "corpus_budget_select",
    f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             CAST((1000000 * len(list_distinct({_TOKS_SQL})))
                  // greatest(len({_TOKS_SQL}), 1) AS BIGINT) AS quality_ppm
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tokens, quality_ppm,
             SUM(n_tokens) OVER (
               ORDER BY quality_ppm DESC, doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum_tokens
      FROM scored WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, quality_ppm,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           cum_tokens <= 100000 AS selected
    FROM ranked
    """,
    "Token-budget corpus selection — the 'best 100k tokens' planner "
    "behind every compute-constrained training run: documents rank by "
    "a quality score (distinct-token ratio in ppm — lexical diversity, "
    "the cheap proxy; production swaps in quality_filter_audit's "
    "verdicts), and the greedy prefix under the cumulative token "
    "budget is selected — ties on quality break by doc_id, so the "
    "selection is a pure function of the corpus. Emits the full "
    "ranking with cum_tokens and the selected flag (the audit view: "
    "what was cut and how close it was). One global-order window "
    "over doc-level rows (the export-manifest sort shape).",
)
def corpus_budget_select(spark, sf_dir):
    scored = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(_toks()).cast("long").alias("n_tokens"),
            F.expr(
                "CAST((1000000 * size(array_distinct("
                "filter(split(lower(text), ' '), x -> x != '')))) div "
                "greatest(size(filter(split(lower(text), ' '), "
                "x -> x != '')), 1) AS BIGINT)"
            ).alias("quality_ppm"),
        )
        .where(F.col("n_tokens") > 0)
    )
    ranked = scored.withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(
            W.orderBy(F.desc("quality_ppm"), F.asc("doc_id")).rowsBetween(
                W.unboundedPreceding, 0
            )
        ),
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "quality_ppm",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        (F.col("cum_tokens") <= 100000).alias("selected"),
    )


# ---------------------------------------------------------------------------
# DSIR-flavored importance selection (hashed n-gram log-ratio scoring)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256   # hashed feature space (word unigrams -> buckets)
_DSIR_TARGET = "en"   # the target domain the selection steers toward
_DSIR_TOP = 50        # selected docs (deterministic top-k, ties by id)
_DSIR_TOKS_SQL = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


@register(
    "dsir_importance_select",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_DSIR_TOKS_SQL}) AS tok FROM documents
    ), feat AS (
      SELECT doc_id, lang,
             {_H32_DUCK.format(s="tok")} % {_DSIR_BUCKETS} AS b
      FROM toks
    ), bw AS (
      SELECT b,
             length(bin(CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET}'
                                      THEN 1 ELSE 0 END) + 1 AS BIGINT)))
             - length(bin(CAST(COUNT(*) + 1 AS BIGINT))) AS w
      FROM feat GROUP BY b
    ), scored AS (
      SELECT f.doc_id,
             CAST(SUM(bw.w) AS BIGINT) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM feat f JOIN bw USING (b)
      GROUP BY f.doc_id
    )
    SELECT doc_id, score, n_tok FROM scored
    ORDER BY score DESC, doc_id LIMIT {_DSIR_TOP}
    """,
    "Data Selection via Importance Resampling (DSIR, Xie et al. 2023) "
    "re-expressed with the engine's exact-integer discipline: word "
    "unigrams hash into 256 feature buckets (the same md5-prefix hash "
    "as the winnowing family), each bucket's importance weight is the "
    "INTEGER log2-code-length ratio of Laplace-smoothed target-domain "
    "(lang='en') vs raw-pool counts — length(bin(t+1)) - "
    "length(bin(r+1)), the token_shannon_code_audit idiom, bit-exact "
    "on both engines where true float log-likelihood ratios are not "
    "(ln() differs in the last ulp cross-engine, MEMORY.md) — and each "
    "document scores the sum of its tokens' bucket weights. Output is "
    "the deterministic top-50 selection (score desc, doc_id ties). "
    "Plan shape at 100 TB: one explode -> 256-bucket map-side "
    "aggregate -> 256-row broadcast join back -> one doc_id shuffle -> "
    "TakeOrderedAndProject; the published method's n-gram LM ratio "
    "becomes a code-length ratio (+-1 bit of log2), a declared "
    "deviation in exchange for oracle exactness.",
)
def dsir_importance_select(spark, sf_dir):
    feat = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(_toks()).alias("tok"))
        .select(
            "doc_id",
            "lang",
            (F.expr(_H32_SPARK.format(s="tok")) % _DSIR_BUCKETS).alias("b"),
        )
    )
    bw = feat.groupBy("b").agg(
        (
            F.length(
                F.bin(
                    F.sum(
                        F.when(F.col("lang") == _DSIR_TARGET, 1).otherwise(0)
                    ).cast("long")
                    + 1
                )
            )
            - F.length(F.bin(F.count(F.lit(1)).cast("long") + 1))
        ).alias("w")
    )
    scored = (
        feat.join(F.broadcast(bw), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("w").cast("long").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(_DSIR_TOP)


# ---------------------------------------------------------------------------
# Boilerplate shingle marking (the RefinedWeb/CCNet line-dedup analog)
# ---------------------------------------------------------------------------

_BP_SHINGLE = 4        # tokens per shingle
# Boilerplate at >= 8% of its source's docs — tuned so the synthetic
# corpus' heaviest template shingles fire (max observed source fraction
# is exactly 8%); web-line dedup production settings run far higher
# (50%+ of a domain's pages). The fraction is the knob; the shape and
# the exact-ppm audit are the point.
_BP_FRAC_PPM = 80_000


@register(
    "boilerplate_shingle_mark",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_DSIR_TOKS_SQL} AS v FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(list_slice(v, i, i + {_BP_SHINGLE - 1}), ' ')
               AS shingle
      FROM toks, LATERAL (
        SELECT unnest(range(1, len(toks.v) - {_BP_SHINGLE - 2}))
      ) t(i)
    ), src_docs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), bp AS (
      SELECT sh.source, sh.shingle
      FROM sh JOIN src_docs sd ON sd.source = sh.source
      GROUP BY sh.source, sh.shingle, sd.n_docs
      HAVING 1000000 * COUNT(*) >= {_BP_FRAC_PPM} * sd.n_docs
    ), per_doc AS (
      SELECT s.doc_id, s.source,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN bp.shingle IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
      FROM sh s
      LEFT JOIN bp ON bp.source = s.source AND bp.shingle = s.shingle
      GROUP BY s.doc_id, s.source
    )
    SELECT doc_id, source, n_shingles, n_boiler,
           CAST((1000000 * n_boiler) // GREATEST(n_shingles, 1) AS BIGINT)
             AS boiler_ppm
    FROM per_doc
    """,
    "Boilerplate shingle marking — the RefinedWeb/CCNet per-domain "
    "line-deduplication idea at shingle granularity (this corpus has "
    "no newlines, so 4-token shingles stand in for lines): a DISTINCT "
    "shingle that occurs in >= 8% of its SOURCE's documents is that "
    "source's boilerplate (navigation chrome, footers, templates; the "
    "fraction is a knob — web-line production settings run 50%+), "
    "and every document reports its shingle count, boilerplate-"
    "shingle count, and boilerplate fraction in exact ppm — the "
    "upstream signal for stripping template text before training. "
    "Scale shape: one explode -> per-(source, shingle) count with "
    "map-side partial aggregation against a broadcast per-source doc "
    "count, then a (source, shingle) equi-join back — the shuffle "
    "carries (source, shingle) pairs only, never text bodies; at "
    "100 TB the per-source shingle dimension is the bounded side "
    "exactly as in passage_dedup.",
)
def boilerplate_shingle_mark(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "doc_id",
            "source",
            # guard: Spark sequence(1, 0) would generate DESCENDING
            # [1, 0] — short docs must produce NO shingles instead
            F.explode(
                F.expr(
                    "CASE WHEN size(filter(split(lower(text), ' '), x -> x != ''))"
                    f" >= {_BP_SHINGLE} THEN "
                    "array_distinct(transform("
                    f"sequence(1, size(filter(split(lower(text), ' '), x -> x != '')) - {_BP_SHINGLE - 1}), "
                    f"i -> array_join(slice(filter(split(lower(text), ' '), x -> x != ''), i, {_BP_SHINGLE}), ' ')))"
                    " ELSE array() END"
                )
            ).alias("shingle"),
        )
    ).localCheckpoint(eager=False)
    src_docs = F.broadcast(
        docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    bp = (
        sh.groupBy("source", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(src_docs, "source")
        .where(F.lit(1_000_000) * F.col("c") >= F.lit(_BP_FRAC_PPM) * F.col("n_docs"))
        .select("source", "shingle", F.lit(True).alias("is_bp"))
    )
    per_doc = (
        sh.join(bp, ["source", "shingle"], "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("is_bp"), 1).otherwise(0))
            .cast("long")
            .alias("n_boiler"),
        )
    )
    return per_doc.select(
        "doc_id",
        "source",
        "n_shingles",
        "n_boiler",
        F.expr(
            "CAST((1000000 * n_boiler) div GREATEST(n_shingles, 1) AS BIGINT)"
        ).alias("boiler_ppm"),
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-substring spans (Lee et al., ACL'22)
# ---------------------------------------------------------------------------

# tokens per rolling window. Lee et al. dedup at 50-token granularity on
# web corpora; the synthetic gate documents are ~50 tokens TOTAL, so the
# gate knob is 5 — the plan shape (posting-group -> equi-join ->
# gaps-and-islands) is what scales, and W only changes the constant.
_SPAN_W = 5


@register(
    "dedup_substring_spans",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), win AS (
      SELECT doc_id, CAST(i AS BIGINT) AS s,
             {_H32_DUCK.format(s=f"array_to_string(list_slice(toks, i, i + {_SPAN_W - 1}), ' ')")}
               AS hv
      FROM tk, LATERAL (SELECT unnest(range(1, len(toks) - {_SPAN_W - 2})) AS i) g
      WHERE len(toks) >= {_SPAN_W}
    ), dup AS (
      SELECT hv FROM win GROUP BY hv
      HAVING COUNT(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT DISTINCT w.doc_id, w.s FROM win w JOIN dup USING (hv)
    ), isl AS (
      SELECT doc_id, s,
             CASE WHEN s <= LAG(s) OVER (PARTITION BY doc_id ORDER BY s)
                         + {_SPAN_W}
                  THEN 0 ELSE 1 END AS brk
      FROM hits
    ), grp AS (
      SELECT doc_id, s,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS gid
      FROM isl
    )
    SELECT doc_id,
           CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(s) + {_SPAN_W - 1} AS BIGINT) AS span_end,
           CAST(MAX(s) + {_SPAN_W} - MIN(s) AS BIGINT) AS span_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_dup_windows
    FROM grp GROUP BY doc_id, gid
    """,
    "Cross-document duplicated-substring REMOVAL PLAN (Lee et al., "
    "ACL'22 'Deduplicating Training Data Makes Language Models "
    "Better'): every 5-token rolling window is fingerprinted "
    "(portable md5-derived 32-bit hash, the winnowing entry's hash); "
    "a window duplicated across >= 2 DISTINCT documents marks its "
    "token range, and per document the marked windows merge into "
    "maximal spans via gaps-and-islands — the exact (doc_id, "
    "span_start, span_end) cut list their suffix-array pipeline "
    "emits, re-expressed relationally. Intra-document repeats are "
    "deliberately NOT marked (the paper cuts those too; here they "
    "stay — boilerplate_shingle covers the within-source case). "
    "Plan: one fingerprint aggregate (count-distinct-docs, "
    "map-side-combined), one posting equi-join back to the window "
    "stream, one per-doc LAG + running-SUM island pass — every "
    "exchange is key-partitioned, nothing quadratic, no windows over "
    "the corpus (only within doc_id). At 100 TB this is the "
    "shuffle-bound dedup sweep that replaces the paper's "
    "memory-bound suffix array.",
)
def dedup_substring_spans(spark, sf_dir):
    w = _SPAN_W
    hexpr = _H32_SPARK.format(s=f"array_join(slice(_toks, i, {w}), ' ')")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", _toks().alias("_toks")
    )
    wins = (
        docs.where(F.expr(f"size(_toks) >= {w}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(_toks) - {w - 1}), "
                    f"i -> struct(CAST(i AS BIGINT) AS s, {hexpr} AS hv))"
                )
            ).alias("win"),
        )
        .select("doc_id", "win.s", "win.hv")
    )
    dup = (
        wins.groupBy("hv")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("hv")
    )
    hits = wins.join(dup, "hv").select("doc_id", "s").distinct()
    wd = W.partitionBy("doc_id").orderBy("s")
    isl = hits.withColumn(
        "brk",
        F.when(
            F.col("s") <= F.lag("s").over(wd) + F.lit(w), F.lit(0)
        ).otherwise(F.lit(1)),
    )
    grp = isl.withColumn(
        "gid",
        F.sum("brk").over(
            wd.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        grp.groupBy("doc_id", "gid")
        .agg(
            F.min("s").alias("span_start"),
            (F.max("s") + F.lit(w - 1)).alias("span_end"),
            (F.max("s") + F.lit(w) - F.min("s")).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
        .select(
            "doc_id", "span_start", "span_end", "span_tokens",
            "n_dup_windows",
        )
        .orderBy("doc_id", "span_start")
    )


# ---------------------------------------------------------------------------
# First-fit-decreasing sequence packing (the greedy bin-packing variant
# pack_sequences_linear's docstring defers to)
# ---------------------------------------------------------------------------

_FFD_CAP = 128       # tokens per training pack
_FFD_SHARD_DOCS = 64  # expected docs per packing shard (corpus-relative)


def _ffd_kernel(pdf: pd.DataFrame, cap: int) -> pd.DataFrame:
    """First-fit-decreasing within one shard: docs sorted by (n_tokens
    DESC, doc_id ASC); each goes to the FIRST bin with room, else opens
    a new bin. Sequential by nature — which is exactly why it runs as a
    per-shard Arrow kernel (bounded ~64-doc groups) instead of a window:
    no relational operator expresses carried bin state. Oversize docs
    (n > cap) open their own bin and stay alone, no special case."""
    pdf = pdf.sort_values(
        ["n_tokens", "doc_id"], ascending=[False, True]
    ).reset_index(drop=True)
    fills: list[int] = []
    bins: list[int] = []
    for n in pdf["n_tokens"]:
        for j, f in enumerate(fills):
            if f + n <= cap:
                fills[j] = f + n
                bins.append(j + 1)
                break
        else:
            fills.append(int(n))
            bins.append(len(fills))
    out = pdf[["doc_id", "shard", "n_tokens"]].copy()
    out["bin_id"] = pd.Series(bins, dtype="int64")
    return out[["doc_id", "shard", "bin_id", "n_tokens"]]


@register(
    "pack_sequences_ffd",
    f"""
    WITH RECURSIVE tk AS (
      SELECT doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n
      FROM documents
    ), ns AS (
      SELECT GREATEST(8, COUNT(*) // {_FFD_SHARD_DOCS}) AS n_shards FROM tk
    ), ranked AS (
      SELECT doc_id, n, CAST(doc_id % ns.n_shards AS BIGINT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY doc_id % ns.n_shards
                                ORDER BY n DESC, doc_id) AS rk
      FROM tk, ns
    ), steps AS (
      SELECT shard, 0 AS step, CAST(NULL AS BIGINT) AS doc_id,
             CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS bin_id,
             []::BIGINT[] AS fills
      FROM (SELECT DISTINCT shard FROM ranked)
      UNION ALL
      SELECT shard, step + 1, doc_id, n,
             CAST(coalesce(idx, len(fills) + 1) AS BIGINT),
             CASE WHEN idx IS NULL THEN list_append(fills, n)
                  ELSE list_concat(list_concat(
                         fills[1:idx-1], [fills[idx] + n]), fills[idx+1:])
             END
      -- NB list_position returns 0 (not NULL) on no-match: NULLIF guards
      -- the new-bin branch; idx is computed ONCE per step in this
      -- derived table so the slice bounds reuse it
      FROM (SELECT shard, step, fills, doc_id, n,
                   NULLIF(list_position(
                     list_transform(fills, f -> f + n <= {_FFD_CAP}),
                     true), 0) AS idx
            FROM (SELECT s.shard, s.step, s.fills, r.doc_id, r.n
                  FROM steps s
                  JOIN ranked r ON r.shard = s.shard AND r.rk = s.step + 1))
    )
    SELECT doc_id, shard, bin_id, n AS n_tokens
    FROM steps WHERE doc_id IS NOT NULL
    """,
    "First-fit-decreasing sequence packing — the greedy bin-packing "
    "variant pack_sequences_linear's docstring defers to, made "
    "distributed the only way a sequential-state algorithm can be: "
    "docs hash into corpus-relative shards (GREATEST(8, n/64) — "
    "bounded ~64-doc groups, the knob doctrine), and ONE Arrow kernel "
    "per shard runs the classical FFD scan (sort by tokens DESC, "
    "first bin with room, 128-token capacity; 11/9-OPT guarantee "
    "within each shard). The oracle replays the ENTIRE sequential "
    "scan as a recursive CTE carrying each shard's bin-fill LIST "
    "through the recursion — one row per (shard, step) — so the gate "
    "pins every placement decision, not just aggregate fill. At "
    "100 TB shards scale with the corpus, packs never cross shards "
    "(pack ids are (shard, bin) pairs), and the kernel sees ~64 rows "
    "per group: embarrassingly parallel despite the sequential core.",
)
def pack_sequences_ffd(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(_toks()).cast("long").alias("n_tokens")
    )
    n_docs = docs.count()
    n_shards = max(8, n_docs // _FFD_SHARD_DOCS)
    sharded = docs.withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("long")
    )
    return (
        sharded.groupBy("shard")
        .applyInPandas(
            lambda pdf: _ffd_kernel(pdf, _FFD_CAP),
            schema="doc_id long, shard long, bin_id long, n_tokens long",
        )
        .orderBy("doc_id")
    )


def _pair_audit_oracle() -> str:
    """Replays both fingerprints: the image side recomputes the 3x2 PPM
    dHash integer arithmetic (the _dhash_oracle bits), the caption side
    is the md5 of the first-5-token caption STUB (alt-text boilerplate
    shares prefixes; the gate corpus has zero EXACT caption dups, so a
    whole-text hash would leave the caption direction vacuously empty);
    each direction groups by one fingerprint and counts DISTINCT values
    of the other."""
    def px(i: int) -> str:
        return f"(((doc_id % 40) * 11 + {i} * 17) % 256)"

    def gray(p: int) -> str:
        return f"({px(p * 3)} + {px(p * 3 + 1)} + {px(p * 3 + 2)})"

    cmps = [(0, 1), (1, 2), (3, 4), (4, 5), (0, 3), (1, 4), (2, 5)]
    bits = " + ".join(
        f"(CASE WHEN {gray(a)} < {gray(b)} THEN {1 << j} ELSE 0 END)"
        for j, (a, b) in enumerate(cmps)
    )
    return f"""
    WITH fp AS (
      SELECT doc_id,
             CAST({bits} AS BIGINT) AS dhash,
             md5(array_to_string(list_slice(
               list_filter(string_split(lower(text), ' '), x -> x <> ''),
               1, 5), ' ')) AS cap_hash
      FROM documents
    ), img AS (
      SELECT 'image' AS kind, CAST(dhash AS VARCHAR) AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_assets,
             CAST(COUNT(DISTINCT cap_hash) AS BIGINT) AS n_distinct_other,
             CAST(MIN(doc_id) AS BIGINT) AS keeper_id
      FROM fp GROUP BY dhash HAVING COUNT(*) >= 2
    ), cap AS (
      SELECT 'caption' AS kind, cap_hash AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_assets,
             CAST(COUNT(DISTINCT dhash) AS BIGINT) AS n_distinct_other,
             CAST(MIN(doc_id) AS BIGINT) AS keeper_id
      FROM fp GROUP BY cap_hash HAVING COUNT(*) >= 2
    )
    SELECT * FROM img UNION ALL SELECT * FROM cap
    """


@register(
    "multimodal_pair_dedup_audit",
    _pair_audit_oracle(),
    "Cross-modal image-text pair dedup audit — the LAION-curation "
    "signal pair: (a) the SAME image re-captioned (dhash group with "
    ">= 2 distinct caption hashes: re-hosted images with rewritten "
    "alt-text — keep one, or the highest-quality caption) and (b) the "
    "SAME caption on different images (caption-hash group with >= 2 "
    "distinct dhashes: boilerplate alt-text — a caption-quality "
    "signal, not a dedup key). Image fingerprint is the REAL decode "
    "-> dHash kernel (multimodal_image_dhash_dedup's), caption "
    "fingerprint is the md5 of the first-5-token caption stub "
    "(boilerplate alt-text shares prefixes); each direction is "
    "ONE hash aggregate over (fingerprint, other-fingerprint) rows. "
    "At 100 TB both sides group narrow fixed-width hashes — decoded "
    "pixels never shuffle, captions shuffle as 32-byte digests.",
)
def multimodal_pair_dedup_audit(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        image_dhash,
    )

    docs = t(spark, sf_dir, "documents")
    pixel_hex = F.concat(
        *[
            F.lpad(
                F.hex((F.pmod(F.col("doc_id"), F.lit(40)) * 11 + i * 17) % 256),
                2,
                "0",
            )
            for i in range(18)
        ]
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.concat(
            F.encode(F.lit("P6\n3 2\n255\n"), "utf-8"), F.unhex(pixel_hex)
        ).alias("content"),
    )
    caps = docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(_toks(), 1, 5), " ")
        ).alias("cap_hash"),
    )
    fp = image_dhash(media).select(
        F.col("asset_id").cast("long").alias("doc_id"), "dhash"
    ).join(caps, "doc_id")
    img = (
        fp.groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.countDistinct("cap_hash").alias("n_distinct_other"),
            F.min("doc_id").alias("keeper_id"),
        )
        .where(F.col("n_assets") >= 2)
        .select(
            F.lit("image").alias("kind"),
            F.col("dhash").cast("string").alias("grp"),
            "n_assets", "n_distinct_other", "keeper_id",
        )
    )
    cap = (
        fp.groupBy("cap_hash")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.countDistinct("dhash").alias("n_distinct_other"),
            F.min("doc_id").alias("keeper_id"),
        )
        .where(F.col("n_assets") >= 2)
        .select(
            F.lit("caption").alias("kind"),
            F.col("cap_hash").alias("grp"),
            "n_assets", "n_distinct_other", "keeper_id",
        )
    )
    return img.unionByName(cap)


@register(
    "dedup_substring_spans_apply",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), win AS (
      SELECT doc_id, CAST(i AS BIGINT) AS s,
             {_H32_DUCK.format(s=f"array_to_string(list_slice(toks, i, i + {_SPAN_W - 1}), ' ')")}
               AS hv
      FROM tk, LATERAL (SELECT unnest(range(1, len(toks) - {_SPAN_W - 2})) AS i) g
      WHERE len(toks) >= {_SPAN_W}
    ), dup AS (
      SELECT hv FROM win GROUP BY hv
      HAVING COUNT(DISTINCT doc_id) >= 2
    ), cov AS (
      -- every token position covered by a duplicated window
      SELECT DISTINCT w.doc_id, w.s + o.o AS pos
      FROM win w JOIN dup USING (hv),
           LATERAL (SELECT unnest(range(0, {_SPAN_W})) AS o) o
    ), toks_pos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS tok
      FROM tk, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) g
    ), kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks_pos t LEFT JOIN cov c
        ON c.doc_id = t.doc_id AND c.pos = t.pos
      WHERE c.pos IS NULL
    )
    SELECT d.doc_id,
           CAST(COALESCE(n.nb, 0) AS BIGINT) AS n_tokens_before,
           CAST(COALESCE(n.nb, 0) - COALESCE(k.na, 0) AS BIGINT)
             AS n_tokens_removed,
           md5(COALESCE(k.clean, '')) AS clean_md5
    FROM documents d
    LEFT JOIN (SELECT doc_id, len(toks) AS nb FROM tk) n USING (doc_id)
    LEFT JOIN (
      SELECT doc_id, COUNT(*) AS na,
             string_agg(tok, ' ' ORDER BY pos) AS clean
      FROM kept GROUP BY doc_id
    ) k USING (doc_id)
    """,
    "APPLY the duplicated-substring removal plan — the second half of "
    "Lee et al. ACL'22 (dedup_substring_spans emits the cut list; "
    "this entry performs the cut): every token position covered by a "
    "cross-document duplicated window is dropped, the survivors "
    "re-join in position order, and the output carries "
    "(n_tokens_before, n_tokens_removed, md5 of the cleaned text) — "
    "the digest pins the exact reconstruction, not just counts. "
    "Plan: the covered-position set is the window-posting equi-join "
    "exploded by the fixed window width (never text-length "
    "quadratic), removal is one anti-join on (doc, pos), and "
    "reassembly is one per-doc ordered aggregate — at 100 TB every "
    "exchange is key-partitioned and the only wide rows are the "
    "cleaned documents themselves, exactly once.",
)
def dedup_substring_spans_apply(spark, sf_dir):
    w = _SPAN_W
    hexpr = _H32_SPARK.format(s=f"array_join(slice(_toks, i, {w}), ' ')")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", _toks().alias("_toks")
    )
    wins = (
        docs.where(F.expr(f"size(_toks) >= {w}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(_toks) - {w - 1}), "
                    f"i -> struct(CAST(i AS BIGINT) AS s, {hexpr} AS hv))"
                )
            ).alias("win"),
        )
        .select("doc_id", "win.s", "win.hv")
    )
    dup = (
        wins.groupBy("hv")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("hv")
    )
    cov = (
        wins.join(dup, "hv")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + F.lit(w - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    toks_pos = docs.select(
        "doc_id", F.posexplode("_toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = toks_pos.join(cov, ["doc_id", "pos"], "left_anti")
    reasm = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("na"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x.tok,
            ),
            " ",
        ).alias("clean"),
    )
    nb = docs.select("doc_id", F.size("_toks").cast("long").alias("nb"))
    return (
        t(spark, sf_dir, "documents").select("doc_id")
        .join(nb, "doc_id", "left")
        .join(reasm, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("nb", F.lit(0)).cast("long").alias("n_tokens_before"),
            (F.coalesce("nb", F.lit(0)) - F.coalesce("na", F.lit(0)))
            .cast("long").alias("n_tokens_removed"),
            F.md5(F.coalesce("clean", F.lit(""))).alias("clean_md5"),
        )
    )
