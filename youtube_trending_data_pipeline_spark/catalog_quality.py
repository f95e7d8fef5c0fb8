"""Catalog extensions, round 8: evaluation statistics and curation
audits that round out the quality layer —

* exact ROC-AUC (Mann-Whitney with tie handling, integer ppm);
* t-closeness (the k-anonymity / l-diversity privacy family's third
  member: ordered-EMD distance of each group's sensitive-attribute
  distribution from the global one);
* blocklist term audit (broadcast multi-term matching — the badword /
  policy filter every curation pipeline fronts);
* longest repeated n-gram per document (internal boilerplate beyond
  text_repetition_score's fixed-n signal);
* ROUGE-n recall components between paired documents (the recall
  mirror of eval_bleu_components' clipped precision);
* deterministic Poisson-bootstrap confidence interval (hash-derived
  weights — the scalable one-pass bootstrap);
* margin-normalized similarity mining (Artetxe & Schwenk 2019 — the
  CCMatrix bitext-mining score) over the bounded mutual-kNN build;
* chi-squared independence audit (bit-stable milli statistic via
  int64 cross-products and one identically-parenthesized IEEE
  division per cell);
* temperature-scaled corpus mixing (T5 alpha = 1/2 source shares and
  quotas via exact floor(sqrt(n)) weights).

Same doctrine as the sibling catalog modules: exact-integer outputs,
bit-exact DuckDB oracle replays, plans that survive 100 TB — bounded
spines, broadcast dims, map-side HOFs, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.catalog import register, t

_TOKS_SQL = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


def _toks():
    # built lazily: Column construction needs an active SparkContext
    return F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))


# ---------------------------------------------------------------------------
# Exact ROC-AUC (Mann-Whitney U with ties)
# ---------------------------------------------------------------------------


@register(
    "eval_auc_exact",
    """
    WITH per_s AS (
      SELECT value AS s,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
             SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS nn
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1
    ), c AS (
      SELECT np, nn,
             COALESCE(SUM(nn) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_nn
      FROM per_s
    )
    SELECT CAST((SELECT SUM(np) FROM per_s) AS BIGINT) AS n_pos,
           CAST((SELECT SUM(nn) FROM per_s) AS BIGINT) AS n_neg,
           CAST((1000000 * SUM(2 * np * cum_nn + np * nn))
                // (2 * (SELECT SUM(np) FROM per_s)
                      * (SELECT SUM(nn) FROM per_s)) AS BIGINT) AS auc_ppm
    FROM c
    """,
    "Evaluation: EXACT ROC-AUC as the Mann-Whitney U statistic with "
    "standard tie handling (tied scores contribute half a win), in "
    "integer ppm — positives are purchase events scored by `value`. "
    "Computed distributionally: one aggregate per DISTINCT score "
    "(np, nn), a prefix sum of negatives over the score order, and "
    "pairs-won = 2*np*cum_nn + np*nn (doubled so tie half-credit "
    "stays integer). Plan: the heavy reduction is the per-score "
    "aggregate (map-side partial over raw events); the window runs "
    "over DISTINCT scores only — bounded by score cardinality "
    "(2-decimal values here; at 100 TB, pre-bucket scores to fixed "
    "precision first, which leaves AUC exact for the bucketed "
    "scores). The closing totals are a 1-row broadcast "
    "constant-append.",
)
def eval_auc_exact(spark, sf_dir):
    ev = t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    per_s = ev.groupBy(F.col("value").alias("s")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("np"),
        F.sum(
            F.when(F.col("event_type") != "purchase", 1).otherwise(0)
        ).alias("nn"),
    )
    w = W.orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    c = per_s.select(
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("cum_nn"),
    )
    totals = per_s.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
    )
    return (
        c.agg(
            F.sum(
                2 * F.col("np") * F.col("cum_nn") + F.col("np") * F.col("nn")
            ).alias("won2")
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n_pos",
            "n_neg",
            # 1e6 * won2 exceeds int64 once n_pos*n_neg passes ~9.2e12
            # (~6 M balanced events — hit for real at the 100x replica),
            # so the ppm product/quotient runs in DECIMAL(38,0): exact
            # integer arithmetic with 1e38 headroom, cast back to BIGINT
            # after the division. DuckDB's oracle needs no change — its
            # SUM(BIGINT) is already HUGEINT.
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * won2)"
                " div (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)"
                " AS BIGINT)"
            ).alias("auc_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# t-closeness (ordered EMD per quasi-identifier group)
# ---------------------------------------------------------------------------


@register(
    "privacy_t_closeness",
    """
    WITH base AS (
      SELECT c_nationkey AS grp, c_mktsegment AS sens FROM customer
    ), segs AS (
      SELECT DISTINCT sens FROM base
    ), grps AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g FROM base GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST((SELECT COUNT(*) FROM segs) AS BIGINT) AS m
      FROM base
    ), gc AS (
      SELECT grp, sens, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2
    ), gcum AS (
      SELECT sens,
             SUM(CAST(c AS BIGINT)) OVER (ORDER BY sens
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_all
      FROM (SELECT sens, COUNT(*) AS c FROM base GROUP BY 1)
    ), spine AS (
      SELECT g.grp, g.n_g, s.sens FROM grps g, segs s
    ), cums AS (
      SELECT sp.grp, sp.n_g, sp.sens,
             SUM(COALESCE(gc.c, 0)) OVER (PARTITION BY sp.grp
               ORDER BY sp.sens
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_g,
             gl.cum_all
      FROM spine sp
      LEFT JOIN gc ON gc.grp = sp.grp AND gc.sens = sp.sens
      JOIN gcum gl ON gl.sens = sp.sens
    )
    SELECT grp AS c_nationkey, n_g,
           CAST((1000000 * SUM(ABS(cum_g * (SELECT n_all FROM tot)
                                   - cum_all * n_g)))
                // (n_g * (SELECT n_all FROM tot)
                        * ((SELECT m FROM tot) - 1)) AS BIGINT)
             AS emd_ppm
    FROM cums GROUP BY 1, 2
    """,
    "Privacy: t-closeness (Li, Li & Venkatasubramanian 2007) — the "
    "third member of the k-anonymity (privacy_k_anonymity) / "
    "l-diversity (privacy_l_diversity) family: for each "
    "quasi-identifier group (nation), the Earth Mover's Distance "
    "between its sensitive-attribute distribution (market segment, "
    "ordered lexically) and the global distribution, as exact integer "
    "ppm. EMD over ordered categories is the mean absolute "
    "cumulative-distribution gap; fractions clear to integers on the "
    "common denominator n_g * N, so the whole statistic is one "
    "integer expression (the same rational-arithmetic trick as the "
    "ppm thresholds elsewhere). Plan: two small aggregates, a "
    "bounded groups x segments spine (dimension-sized crossJoin, "
    "whitelisted), per-group prefix sums over the tiny segment "
    "order, a 1-row totals broadcast. At 100 TB the only large scan "
    "is the base aggregate; everything after is dimension-sized.",
)
def privacy_t_closeness(spark, sf_dir):
    base = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("grp"), F.col("c_mktsegment").alias("sens")
    )
    segs = base.select("sens").distinct()
    grps = base.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("n_g"))
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_all")
    ).crossJoin(
        F.broadcast(
            segs.agg(F.count(F.lit(1)).cast("long").alias("m"))
        )
    )
    gc = base.groupBy("grp", "sens").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wg = (
        W.orderBy("sens").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    glob = (
        base.groupBy("sens")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("sens", F.sum("c").over(wg).cast("long").alias("cum_all"))
    )
    spine = grps.crossJoin(F.broadcast(segs))
    wc = (
        W.partitionBy("grp")
        .orderBy("sens")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cums = (
        spine.join(gc, ["grp", "sens"], "left")
        .select(
            "grp",
            "n_g",
            "sens",
            F.sum(F.coalesce(F.col("c"), F.lit(0))).over(wc).alias("cum_g"),
        )
        .join(F.broadcast(glob), "sens")
    )
    return (
        cums.crossJoin(F.broadcast(tot))
        .groupBy(F.col("grp").alias("c_nationkey"), "n_g")
        .agg(
            F.expr(
                "CAST((1000000 * SUM(ABS(cum_g * n_all - cum_all * n_g)))"
                " div (n_g * ANY_VALUE(n_all) * (ANY_VALUE(m) - 1))"
                " AS BIGINT)"
            ).alias("emd_ppm")
        )
        .select("c_nationkey", "n_g", "emd_ppm")
    )


# ---------------------------------------------------------------------------
# Blocklist term audit
# ---------------------------------------------------------------------------

_BLOCK_TERMS = ["spark", "hash", "merge", "sort", "window"]


@register(
    "blocklist_term_audit",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_terms
    FROM tok
    WHERE tok IN ({", ".join("'" + t_ + "'" for t_ in _BLOCK_TERMS)})
    GROUP BY 1
    """,
    "Curation: blocklist term audit — the badword / policy filter "
    "stage every training-data pipeline fronts (C4's badwords list, "
    "Dolma's fast-text filters): per document, total hits and "
    "distinct blocklist terms matched, token-exact (no substring "
    "false positives). Plan: explode tokens map-side, probe a "
    "broadcast term table (equi-join — at a 100 TB corpus with a "
    "100 k-term list this stays one broadcast hash probe per token, "
    "zero shuffle before the per-doc aggregate, map-side partial "
    "counts).",
)
def blocklist_term_audit(spark, sf_dir):
    terms = F.broadcast(
        t(spark, sf_dir, "documents")
        .sparkSession.createDataFrame(
            [(term,) for term in _BLOCK_TERMS], "tok string"
        )
    )
    tok = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_toks()).alias("tok"))
    )
    return (
        tok.join(terms, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.countDistinct("tok").cast("long").alias("n_terms"),
        )
    )


# ---------------------------------------------------------------------------
# Longest repeated n-gram per document
# ---------------------------------------------------------------------------


@register(
    "text_longest_repeated_ngram",
    f"""
    WITH dt AS (
      SELECT doc_id, {_TOKS_SQL} AS v FROM documents
    ), ns AS (
      SELECT unnest(range(2, 9)) AS n
    ), grams AS (
      SELECT doc_id, n,
             unnest(list_transform(range(1, len(v) - n + 2),
                    i -> array_to_string(v[i : i + n - 1], ' '))) AS g
      FROM dt, ns
      WHERE len(v) >= n
    ), rep AS (
      SELECT doc_id, n, g FROM grams
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
    ), mx AS (
      SELECT doc_id, MAX(n) AS max_rep_n FROM rep GROUP BY 1
    )
    SELECT r.doc_id, CAST(m.max_rep_n AS BIGINT) AS max_rep_n,
           CAST(COUNT(*) AS BIGINT) AS reps_at_max
    FROM rep r JOIN mx m ON m.doc_id = r.doc_id AND r.n = m.max_rep_n
    GROUP BY 1, 2
    """,
    "Curation: longest repeated token n-gram per document (n in "
    "2..8) plus how many distinct n-grams repeat at that length — "
    "the internal-boilerplate signal text_repetition_score's fixed-n "
    "ratio misses (a doc can score low on 2-gram repetition while a "
    "whole 8-token clause repeats). Docs with no repeated n-gram are "
    "absent (clean). Plan: the n-gram stream is generated map-side "
    "by one nested transform over the token array (bounded 7x "
    "explode), one (doc, n, gram) aggregate with map-side partials, "
    "then dimension-sized reductions — the shuffle carries hashed "
    "gram keys, never text bodies, the eval_bleu_components cost "
    "shape.",
)
def text_longest_repeated_ngram(spark, sf_dir):
    # round-robin repartition the slim (id, tokens) projection before
    # the 7-level n-gram explode — parquet plans few input splits and
    # the generation stage is the hot one (the apriori combo doctrine;
    # at 100 TB this shuffles one token-array row per doc, never text)
    dt = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("v"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # the gram key is HASHED at generation (xxhash64 inside the lambda)
    # so the aggregate's shuffle carries (doc_id, n, int64) rows, never
    # n-gram text — the output only ever counts distinct grams, so the
    # 64-bit key is observationally identical to the string short of a
    # same-doc-same-n collision (~200 grams/doc against 2^64).  Both
    # collision directions exist (ADVICE r12): two occurrences of one
    # gram colliding UNDER-counts distinct grams, and two distinct
    # singleton grams colliding manufactures a FALSE repeat (count 2),
    # which can raise that doc's max_rep_n.  Either is ~1e-15 per doc;
    # if stronger guarantees are ever needed, widen the key to a
    # (xxhash64, gram_length) pair or a 128-bit hash.
    grams = dt.select(
        "doc_id",
        F.explode(
            F.expr(
                """flatten(transform(filter(sequence(2, 8),
                                            n -> size(v) >= n), n ->
                     transform(sequence(1, size(v) - n + 1), i ->
                       named_struct('n', n,
                                    'g', xxhash64(array_join(
                                           slice(v, i, n), ' '))))))"""
            )
        ).alias("p"),
    ).select("doc_id", "p.n", "p.g")
    rep = (
        grams.groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("doc_id", "n", "g")
    )
    # per-doc max via a window instead of a groupBy + self-join (r13):
    # the join's two inputs were the same un-checkpointed subtree, so
    # the gram aggregate ran TWICE (exchange reuse only dedups up to
    # the exchange; the post-shuffle aggregate re-executed) — and the
    # window's doc_id exchange is also the final aggregate's
    # partitioning, so the tail runs with zero further exchanges.
    w_doc = W.partitionBy("doc_id")
    return (
        rep.withColumn("max_rep_n", F.max("n").over(w_doc))
        .where(F.col("n") == F.col("max_rep_n"))
        .groupBy("doc_id", F.col("max_rep_n").cast("long").alias("max_rep_n"))
        .agg(F.count(F.lit(1)).cast("long").alias("reps_at_max"))
        .select("doc_id", "max_rep_n", "reps_at_max")
    )


# ---------------------------------------------------------------------------
# ROUGE-n recall components between paired documents
# ---------------------------------------------------------------------------


@register(
    "eval_rouge_n",
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
    ), ref AS (
      SELECT doc_id, n, g, cnt FROM counts WHERE doc_id % 2 = 0
    ), cand AS (
      SELECT doc_id - 1 AS ref_id, n, g, cnt FROM counts WHERE doc_id % 2 = 1
    ), overl AS (
      SELECT r.doc_id + 1 AS pair_id, r.n,
             SUM(least(r.cnt, COALESCE(c.cnt, 0))) AS ov,
             SUM(r.cnt) AS tot
      FROM ref r
      LEFT JOIN cand c ON c.ref_id = r.doc_id AND c.n = r.n AND c.g = r.g
      WHERE r.doc_id + 1 IN (SELECT ref_id + 1 FROM cand)
      GROUP BY 1, 2
    )
    SELECT pair_id,
           CAST(MAX(CASE WHEN n = 1 THEN tot END) AS BIGINT)
             AS n_ref_tokens,
           CAST(MAX(CASE WHEN n = 1 THEN (1000000 * ov) // tot END)
                AS BIGINT) AS r1_ppm,
           CAST(MAX(CASE WHEN n = 2 THEN (1000000 * ov) // tot END)
                AS BIGINT) AS r2_ppm
    FROM overl GROUP BY pair_id
    """,
    "Evaluation: ROUGE-n RECALL components between paired documents "
    "(candidate = odd doc_id, reference = the preceding even doc_id — "
    "the eval_bleu_components pairing): for n in (1, 2), sum over "
    "REFERENCE grams of count clipped at the candidate count, over "
    "total reference grams, as exact ppm integers — the recall mirror "
    "of BLEU's clipped precision (together they bracket "
    "summarization/overlap quality; the F-measure is a driver-side "
    "division over these exact components, kept out so the gate stays "
    "integer-exact). Plan: identical cost shape to "
    "eval_bleu_components — one gram-count aggregate, one equi-join "
    "per n on (pair, gram), one pair reduce; the join direction flips "
    "to reference-side so recall denominators are complete even when "
    "the candidate lacks the gram.",
)
def eval_rouge_n(spark, sf_dir):
    tk = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("toks"))
    )
    one = tk.select(
        "doc_id", F.lit(1).alias("n"), F.explode("toks").alias("g")
    )
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
    ref = counts.where(F.col("doc_id") % 2 == 0)
    cand = counts.where(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") - 1).alias("ref_id"),
        F.col("n").alias("cn"),
        F.col("g").alias("cg"),
        F.col("cnt").alias("ccnt"),
    )
    overl = (
        ref.join(
            cand.select("ref_id").distinct(),
            ref["doc_id"] == F.col("ref_id"),
            "left_semi",
        )
        .join(
            cand,
            (ref["doc_id"] == cand["ref_id"])
            & (ref["n"] == cand["cn"])
            & (ref["g"] == cand["cg"]),
            "left",
        )
        .groupBy((ref["doc_id"] + 1).alias("pair_id"), "n")
        .agg(
            F.sum(F.least("cnt", F.coalesce("ccnt", F.lit(0)))).alias("ov"),
            F.sum("cnt").alias("tot"),
        )
    )
    return overl.groupBy("pair_id").agg(
        F.max(F.when(F.col("n") == 1, F.col("tot")))
        .cast("long")
        .alias("n_ref_tokens"),
        F.max(
            F.when(F.col("n") == 1, F.expr("(1000000 * ov) div tot"))
        )
        .cast("long")
        .alias("r1_ppm"),
        F.max(
            F.when(F.col("n") == 2, F.expr("(1000000 * ov) div tot"))
        )
        .cast("long")
        .alias("r2_ppm"),
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson-bootstrap confidence interval
# ---------------------------------------------------------------------------

_BOOT_B = 64  # resamples (fixed spine)
# Cumulative ppm thresholds of Poisson(1): P(X <= k) for k = 0..6,
# floored to ppm — INTEGER LITERALS (ln/exp are not bit-stable across
# engines; these are data constants of the method, like Benford's).
_POIS_CUM_PPM = (367879, 735758, 919698, 981011, 996340, 999405, 999916)

_H32_SPARK = "cast(conv(substring(md5({s}), 1, 8), 16, 10) AS BIGINT)"
_H32_DUCK = "(('0x' || substr(md5({s}), 1, 8))::BIGINT)"


def _pois_case(u: str) -> str:
    """CASE expression mapping a ppm-uniform draw to a Poisson(1)
    weight via the inverse CDF (shared SQL text for both engines)."""
    arms = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CUM_PPM)
    )
    return f"CASE {arms} ELSE 7 END"


@register(
    "eval_bootstrap_ci",
    f"""
    WITH ev AS (
      SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), bs AS (
      SELECT unnest(range(0, {_BOOT_B})) AS rb
    ), wts AS (
      SELECT rb, c,
             {_pois_case(_H32_DUCK.format(
                 s="CAST(event_id AS VARCHAR) || ':' || CAST(rb AS VARCHAR)")
                 + " % 1000000")} AS w
      FROM ev, bs
    ), rs AS (
      SELECT rb, SUM(w * c) // GREATEST(SUM(w), 1) AS mean_c
      FROM wts GROUP BY 1
    ), o AS (
      SELECT mean_c, ROW_NUMBER() OVER (ORDER BY mean_c) AS rn FROM rs
    )
    SELECT CAST((SELECT SUM(c) // COUNT(*) FROM ev) AS BIGINT)
             AS point_cents,
           CAST((SELECT mean_c FROM o WHERE rn = 4) AS BIGINT)
             AS lo_cents,
           CAST((SELECT mean_c FROM o WHERE rn = 61) AS BIGINT)
             AS hi_cents
    """,
    "Evaluation: deterministic POISSON-BOOTSTRAP 90% confidence "
    "interval for the mean event value (cents) — the scalable "
    "one-pass bootstrap (Chamandy et al. 2012): instead of B "
    "materialized resamples, every row draws a Poisson(1) resample "
    "weight per replicate, here DERIVED FROM md5(event_id:b) through "
    "the integer inverse-CDF thresholds (ppm literals — ln/exp never "
    "enter the gate), so both engines replay the exact same "
    "'randomness'. Resample means are exact integer cents; the CI "
    "bounds are order statistics 4 and 61 of the 64 sorted means "
    "(~5th/95th percentile). Plan: one bounded 64-row spine "
    "constant-append onto the event scan (whitelisted), one "
    "(replicate) aggregate with map-side partials, then a 64-row "
    "sort — at 100 TB the only large stage is the weighted "
    "aggregate, embarrassingly parallel.",
)
def eval_bootstrap_ci(spark, sf_dir):
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
        )
        # spread the 64x replicate expansion across all cores (the scan
        # plans few input splits; this shuffles two longs per event)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    bs = F.broadcast(
        ev.sparkSession.range(_BOOT_B).select(F.col("id").alias("rb"))
    )
    u = (
        _H32_SPARK.format(
            s="concat(cast(event_id as string), ':', cast(rb as string))"
        )
        + " % 1000000"
    )
    wts = ev.crossJoin(bs).select(
        "rb", "c", F.expr(_pois_case(u)).alias("w")
    )
    rs = wts.groupBy("rb").agg(
        F.expr(
            "CAST(SUM(w * c) div GREATEST(SUM(w), 1) AS BIGINT)"
        ).alias("mean_c")
    )
    o = rs.select(
        "mean_c",
        F.row_number().over(W.orderBy("mean_c")).alias("rn"),
    )
    point = ev.agg(
        F.expr("CAST(SUM(c) div COUNT(*) AS BIGINT)").alias("point_cents")
    )
    lo = o.where(F.col("rn") == 4).select(
        F.col("mean_c").cast("long").alias("lo_cents")
    )
    hi = o.where(F.col("rn") == 61).select(
        F.col("mean_c").cast("long").alias("hi_cents")
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select("point_cents", "lo_cents", "hi_cents")
    )


# ---------------------------------------------------------------------------
# Margin-normalized similarity mining (bitext-mining score)
# ---------------------------------------------------------------------------


def _margin_oracle() -> str:
    from youtube_trending_data_pipeline_spark.catalog_analysis import (
        _KNN_K,
        _mutual_cte_sql,
    )

    return f"""
    WITH {_mutual_cte_sql("e0", with_dots=True)},
    sums AS MATERIALIZED (
      SELECT u, SUM(dot) AS sumk FROM knn GROUP BY 1
    ), m AS (
      SELECT k.u, k.v,
             2 * {_KNN_K} * k.dot - su.sumk - sv.sumk AS margin2k
      FROM knn k
      JOIN sums su ON su.u = k.u
      JOIN sums sv ON sv.u = k.v
    )
    SELECT u, v, CAST(margin2k AS BIGINT) AS margin2k FROM (
      SELECT u, v, margin2k,
             ROW_NUMBER() OVER (PARTITION BY u
               ORDER BY margin2k DESC, v) AS rn
      FROM m
    ) WHERE rn = 1
    """


@register(
    "sim_margin_topk",
    _margin_oracle(),
    "Similarity mining: MARGIN-normalized best match per vector "
    "(Artetxe & Schwenk 2019, the CCMatrix/LASER bitext-mining "
    "score, difference flavor): a neighbor only wins if its "
    "similarity stands out from both endpoints' kNN neighborhoods — "
    "margin2k = 2k*dot(u,v) - sum_topk(u) - sum_topk(v), all exact "
    "quantized-integer dots, ranked (margin DESC, v ASC). Absolute-"
    "cosine top-1 retrieval mines hubs (vectors close to everything); "
    "the margin subtracts each side's neighborhood level, the "
    "established fix for hubness in parallel-corpus mining. Runs on "
    "the BOUNDED mutual-kNN candidate build (_mutual_knn_scored — "
    "IVF-pivot cells, corpus-relative cell count, within-cell BLAS), "
    "never all-pairs; the oracle replays the entire candidate "
    "pipeline via the shared CTE chain with dots kept. Plan beyond "
    "the shared build: one per-u sum over k rows, two broadcast-"
    "sized equi-joins, one per-u top-1 window.",
)
def sim_margin_topk(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog_analysis import (
        _KNN_K,
        _mutual_knn_scored,
    )

    pairs = _mutual_knn_scored(spark, sf_dir)
    w_knn = W.partitionBy("u").orderBy(F.desc("dot"), F.asc("v"))
    knn = (
        pairs.withColumn("rn", F.row_number().over(w_knn))
        .where(F.col("rn") <= _KNN_K)
        .select("u", "v", "dot")
        .localCheckpoint(eager=False)
    )
    sums = knn.groupBy("u").agg(F.sum("dot").alias("sumk"))
    m = (
        knn.join(sums, "u")
        .join(
            sums.select(
                F.col("u").alias("v"), F.col("sumk").alias("sumk_v")
            ),
            "v",
        )
        .select(
            "u",
            "v",
            (
                2 * _KNN_K * F.col("dot")
                - F.col("sumk")
                - F.col("sumk_v")
            ).alias("margin2k"),
        )
    )
    w_top = W.partitionBy("u").orderBy(F.desc("margin2k"), F.asc("v"))
    return (
        m.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") == 1)
        .select("u", "v", F.col("margin2k").cast("long").alias("margin2k"))
    )


# ---------------------------------------------------------------------------
# Chi-squared independence audit (categorical drift / DQ)
# ---------------------------------------------------------------------------


@register(
    "dq_chi2_independence",
    """
    WITH d AS (
      SELECT event_type,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS wd
      FROM events WHERE event_type IS NOT NULL
    ), obs AS (
      SELECT event_type, wd, CAST(COUNT(*) AS BIGINT) AS o
      FROM d GROUP BY 1, 2
    ), rt AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS r FROM d GROUP BY 1
    ), ct AS (
      SELECT wd, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
    ), cells AS (
      SELECT sp.event_type, sp.wd, sp.r, sp.c,
             COALESCE(obs.o, 0) AS o
      FROM (SELECT rt.event_type, ct.wd, rt.r, ct.c FROM rt, ct) sp
      LEFT JOIN obs ON obs.event_type = sp.event_type AND obs.wd = sp.wd
    ), terms AS (
      SELECT CAST(FLOOR(
               ((1000.0 * CAST((SELECT n FROM tot) * o - r * c AS DOUBLE))
                 * CAST((SELECT n FROM tot) * o - r * c AS DOUBLE))
               / ((CAST((SELECT n FROM tot) AS DOUBLE) * CAST(r AS DOUBLE))
                  * CAST(c AS DOUBLE))) AS BIGINT) AS cell_milli
      FROM cells
    )
    SELECT (SELECT n FROM tot) AS n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS n_types,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS n_weekdays,
           ((SELECT COUNT(*) FROM rt) - 1)
             * ((SELECT COUNT(*) FROM ct) - 1) AS dof,
           CAST(SUM(cell_milli) AS BIGINT) AS chi2_milli
    FROM terms
    """,
    "Data quality / drift: chi-squared independence statistic between "
    "event type and weekday (epoch-day (d+4)%7 arithmetic — no "
    "calendar functions, the weekday_profile convention), in exact "
    "milli units: per cell, (N*O - r*c)^2 stays in int64 (N*O <= "
    "2.5e11 at sf1), the single division runs in IEEE double with a "
    "parenthesized evaluation order written identically in both "
    "engines, and the FLOOR'd milli terms sum as integers — so the "
    "statistic is bit-stable without ever summing doubles. Zero "
    "cells are included via the bounded types x weekdays spine "
    "(whitelisted crossJoin), as the definition requires. Output: "
    "(n, n_types, n_weekdays, dof, chi2_milli) — the caller compares "
    "chi2 against the critical value driver-side. Plan: one base "
    "aggregate + dimension-sized joins; at 100 TB only the base "
    "aggregate touches the corpus.",
)
def dq_chi2_independence(spark, sf_dir):
    d = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.expr("((ts div 1000) div 86400000000 + 4) % 7").alias("wd"),
        )
    )
    obs = d.groupBy("event_type", "wd").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rt = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("r")
    )
    ct = d.groupBy("wd").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .join(obs, ["event_type", "wd"], "left")
        .select(
            "r", "c", F.coalesce(F.col("o"), F.lit(0)).alias("o")
        )
        .crossJoin(F.broadcast(tot))
    )
    terms = cells.select(
        "n",
        F.expr(
            "CAST(FLOOR(((1000.0 * CAST(n * o - r * c AS DOUBLE))"
            " * CAST(n * o - r * c AS DOUBLE))"
            " / ((CAST(n AS DOUBLE) * CAST(r AS DOUBLE))"
            " * CAST(c AS DOUBLE))) AS BIGINT)"
        ).alias("cell_milli"),
    )
    nt = rt.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    nw = ct.agg(F.count(F.lit(1)).cast("long").alias("n_weekdays"))
    return (
        terms.groupBy("n")
        .agg(F.sum("cell_milli").cast("long").alias("chi2_milli"))
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nw))
        .select(
            "n",
            "n_types",
            "n_weekdays",
            ((F.col("n_types") - 1) * (F.col("n_weekdays") - 1)).alias(
                "dof"
            ),
            "chi2_milli",
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled corpus mixing (T5/mT5 alpha = 1/2)
# ---------------------------------------------------------------------------

_MIX_BUDGET = 100_000  # total sampling budget the shares allocate


@register(
    "corpus_temperature_mix",
    f"""
    WITH src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars
      FROM documents GROUP BY 1
    ), wts AS (
      SELECT source, n_docs, n_chars,
             CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
      FROM src
    )
    SELECT source, n_docs, n_chars, w,
           CAST((1000000 * w) // (SELECT SUM(w) FROM wts) AS BIGINT)
             AS share_ppm,
           CAST(({_MIX_BUDGET} * w) // (SELECT SUM(w) FROM wts) AS BIGINT)
             AS quota_docs
    FROM wts
    """,
    "Curation: temperature-scaled corpus mixing (T5/mT5, Raffel et "
    "al. 2020: sample source i proportional to n_i^alpha with "
    "alpha = 1/2, flattening the natural distribution so "
    "low-resource sources are not drowned) — per source: doc/char "
    "counts, the integer weight floor(sqrt(n)) (IEEE sqrt is "
    "correctly rounded, so FLOOR agrees across engines; exact on "
    "perfect squares), ppm mixture share, and the doc quota for a "
    "100k budget via largest-floor allocation (the companion to "
    "quota_largest_remainder's exact apportionment and "
    "domain_quota_sample's per-domain caps — this entry computes "
    "the TARGET mixture those operators execute). Plan: one "
    "aggregate over the corpus, then dimension-sized arithmetic "
    "with a 1-row weight-total broadcast.",
)
def corpus_temperature_mix(spark, sf_dir):
    src = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).cast("long").alias(
                "n_chars"
            ),
        )
    )
    wts = src.select(
        "source",
        "n_docs",
        "n_chars",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT)"
        ).alias("w"),
    )
    tot = wts.agg(F.sum("w").cast("long").alias("wsum"))
    return (
        wts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            "w",
            F.expr("CAST((1000000 * w) div wsum AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr(
                f"CAST(({_MIX_BUDGET} * w) div wsum AS BIGINT)"
            ).alias("quota_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Brier score + expected calibration error
# ---------------------------------------------------------------------------


@register(
    "eval_brier_ece",
    """
    WITH d AS (
      SELECT LEAST(1000000, CAST(ROUND(value * 10000) AS BIGINT)) AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL AND value >= 0
    ), n1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
    ), bins AS (
      SELECT LEAST(9, p // 100000) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_b,
             SUM(p) // COUNT(*) AS conf_ppm,
             (1000000 * SUM(y)) // COUNT(*) AS acc_ppm
      FROM d GROUP BY 1
    )
    SELECT (SELECT n FROM n1) AS n,
           (SELECT CAST(SUM((p - 1000000 * y) * (p - 1000000 * y))
                        // (1000000 * (SELECT n FROM n1)) AS BIGINT)
            FROM d) AS brier_ppm,
           CAST(SUM(n_b * ABS(conf_ppm - acc_ppm))
                // (SELECT n FROM n1) AS BIGINT) AS ece_ppm
    FROM bins
    """,
    "Evaluation: Brier score and Expected Calibration Error of a "
    "pseudo-probability (event value scaled to [0, 1] ppm, clipped) "
    "against the purchase label — the two SCALAR calibration metrics "
    "that complete eval_calibration_bins' per-bin reliability table "
    "(Brier = mean squared probability error; ECE = bin-weighted "
    "|confidence - accuracy| over 10 equal-width bins, Guo et al. "
    "2017). All integer: ppm probabilities, squared errors in int64 "
    "(<= 1e12 per row), truncating divisions identical on both "
    "engines. Plan: one map-side projection, one 10-bin aggregate, "
    "1-row appends — the corpus is touched once.",
)
def eval_brier_ece(spark, sf_dir):
    d = (
        t(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
            & (F.col("value") >= 0)
        )
        .select(
            F.expr(
                "LEAST(1000000, CAST(ROUND(value * 10000) AS BIGINT))"
            ).alias("p"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    n1 = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    brier = (
        d.agg(
            F.sum(
                (F.col("p") - 1000000 * F.col("y"))
                * (F.col("p") - 1000000 * F.col("y"))
            ).alias("se")
        )
        .crossJoin(F.broadcast(n1))
        .select(
            "n",
            F.expr(
                "CAST(se div (1000000 * n) AS BIGINT)"
            ).alias("brier_ppm"),
        )
    )
    bins = d.groupBy(
        F.expr("LEAST(9, p div 100000)").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.expr("SUM(p) div COUNT(*)").alias("conf_ppm"),
        F.expr("(1000000 * SUM(y)) div COUNT(*)").alias("acc_ppm"),
    )
    ece = (
        bins.agg(
            F.sum(
                F.col("n_b")
                * F.abs(F.col("conf_ppm") - F.col("acc_ppm"))
            ).alias("werr")
        )
        .crossJoin(F.broadcast(n1.select(F.col("n").alias("n2"))))
        .select(F.expr("CAST(werr div n2 AS BIGINT)").alias("ece_ppm"))
    )
    return (
        brier.crossJoin(F.broadcast(ece))
        .select("n", "brier_ppm", "ece_ppm")
    )


# ---------------------------------------------------------------------------
# Matthews correlation coefficient
# ---------------------------------------------------------------------------

_MCC_THRESH = 50  # value threshold for the positive prediction


@register(
    "eval_mcc",
    f"""
    WITH d AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN value >= {_MCC_THRESH} THEN 1 ELSE 0 END AS yh
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), c AS (
      SELECT CAST(SUM(y * yh) AS BIGINT) AS tp,
             CAST(SUM((1 - y) * yh) AS BIGINT) AS fp,
             CAST(SUM(y * (1 - yh)) AS BIGINT) AS fn,
             CAST(SUM((1 - y) * (1 - yh)) AS BIGINT) AS tn
      FROM d
    )
    SELECT tp, fp, fn, tn,
           CASE WHEN (tp + fp) = 0 OR (tp + fn) = 0
                  OR (tn + fp) = 0 OR (tn + fn) = 0
                THEN 0
                ELSE CAST(FLOOR(1000000.0 *
                  (CAST(tp * tn - fp * fn AS DOUBLE)
                   / SQRT((CAST(tp + fp AS DOUBLE)
                           * CAST(tp + fn AS DOUBLE))
                          * (CAST(tn + fp AS DOUBLE)
                             * CAST(tn + fn AS DOUBLE)))))
                  AS BIGINT)
           END AS mcc_ppm
    FROM c
    """,
    "Evaluation: Matthews correlation coefficient of the "
    "value-threshold classifier against the purchase label — the "
    "single summary number robust to class imbalance, completing the "
    "binary-classification suite (eval_auc_exact, eval_pr_curve, "
    "eval_calibration_bins, eval_brier_ece, eval_cohens_kappa). "
    "Confusion counts are exact int64; the numerator tp*tn - fp*fn "
    "stays in int64; the one irrational step (sqrt of the marginal "
    "product, which exceeds 2^53 and so lives in double) is a single "
    "chain of IEEE ops written with identical parenthesization on "
    "both engines, floored to ppm — the dq_chi2_independence "
    "doctrine; the degenerate check tests each marginal separately "
    "(their int64 PRODUCT overflows past ~2.5e5 rows per class). "
    "Degenerate marginals define MCC = 0 (standard). "
    "Plan: one map-side projection + one 1-row aggregate.",
)
def eval_mcc(spark, sf_dir):
    d = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
            F.when(F.col("value") >= _MCC_THRESH, 1)
            .otherwise(0)
            .alias("yh"),
        )
    )
    c = d.agg(
        F.sum(F.expr("y * yh")).cast("long").alias("tp"),
        F.sum(F.expr("(1 - y) * yh")).cast("long").alias("fp"),
        F.sum(F.expr("y * (1 - yh)")).cast("long").alias("fn"),
        F.sum(F.expr("(1 - y) * (1 - yh)")).cast("long").alias("tn"),
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            """CASE WHEN (tp + fp) = 0 OR (tp + fn) = 0
                  OR (tn + fp) = 0 OR (tn + fn) = 0
                    THEN 0L
                    ELSE CAST(FLOOR(1000000.0 *
                      (CAST(tp * tn - fp * fn AS DOUBLE)
                       / SQRT((CAST(tp + fp AS DOUBLE)
                               * CAST(tp + fn AS DOUBLE))
                              * (CAST(tn + fp AS DOUBLE)
                                 * CAST(tn + fn AS DOUBLE)))))
                      AS BIGINT)
               END"""
        ).alias("mcc_ppm"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection (per-user sequential fold)
# ---------------------------------------------------------------------------

_CUSUM_K = 3000   # reference value (cents) subtracted per step
_CUSUM_H = 20000  # alarm threshold (cents); alarm resets the statistic


@register(
    "events_cusum_drift",
    f"""
    WITH RECURSIVE x AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), r AS (
      SELECT user_id, rn,
             CASE WHEN GREATEST(0, v - {_CUSUM_K}) >= {_CUSUM_H}
                  THEN 0 ELSE GREATEST(0, v - {_CUSUM_K}) END AS s,
             CASE WHEN GREATEST(0, v - {_CUSUM_K}) >= {_CUSUM_H}
                  THEN 1 ELSE 0 END AS n_alarms,
             GREATEST(0, v - {_CUSUM_K}) AS max_s
      FROM x WHERE rn = 1
      UNION ALL
      SELECT x.user_id, x.rn,
             CASE WHEN GREATEST(0, r.s + x.v - {_CUSUM_K}) >= {_CUSUM_H}
                  THEN 0
                  ELSE GREATEST(0, r.s + x.v - {_CUSUM_K}) END,
             r.n_alarms
               + CASE WHEN GREATEST(0, r.s + x.v - {_CUSUM_K})
                           >= {_CUSUM_H} THEN 1 ELSE 0 END,
             GREATEST(r.max_s, GREATEST(0, r.s + x.v - {_CUSUM_K}))
      FROM r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1
    ), n AS (
      SELECT user_id, CAST(MAX(rn) AS BIGINT) AS n_events
      FROM x GROUP BY user_id
    )
    SELECT n.user_id, n.n_events, r.s AS final_s,
           CAST(r.n_alarms AS BIGINT) AS n_alarms,
           r.max_s
    FROM n JOIN r ON r.user_id = n.user_id AND r.rn = n.n_events
    """,
    "Drift detection: one-sided CUSUM (Page 1954) per user over "
    "time-ordered cent values — S_n = max(0, S_(n-1) + v_n - k), "
    "alarm and reset when S crosses h; reports final statistic, "
    "alarm count, and the maximum excursion. The classic ONLINE "
    "changepoint detector completing the anomaly family "
    "(events_anomaly_mad is point-wise, anomaly_seasonal_residual is "
    "seasonal; CUSUM accumulates small persistent shifts neither "
    "sees). The recurrence is order-dependent with a max-reset (no "
    "window frame or algebraic aggregate expresses it), so it uses "
    "the ewma_user_value Arrow shape: ONE shuffle on user_id + "
    "sortWithinPartitions, a single-pass mapInPandas kernel carrying "
    "per-user (s, alarms, max) state across batches in a segmented "
    "fold — all integer compares, so any partitioning is "
    "bit-identical, and the DuckDB recursive CTE replays the exact "
    "fold. At 100 TB: state is O(keys-per-partition) ints, rows "
    "stream through Arrow once.",
)
def events_cusum_drift(spark, sf_dir):
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    # null guard on BOTH engines (ADVICE r8): a null value would become
    # NaN in the Arrow fold and poison per-user state, and DuckDB NULL
    # propagation in the recursive CTE differs — a latent divergence
    # even though current testdata has no null values.
    ev = (
        t(spark, sf_dir, "events")
        .where("value IS NOT NULL AND user_id IS NOT NULL")
        .select(
            "user_id",
            "event_id",
            F.expr("ts div 1000").alias("ts_us"),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("v"),
        )
    )
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("final_s", LongType()),
            StructField("n_alarms", LongType()),
            StructField("max_s", LongType()),
        ]
    )
    k, h = _CUSUM_K, _CUSUM_H

    def fold(batches):
        # segmented fold, the ewma_user_value kernel shape: vectorized
        # run-boundary detection, tight per-run Python loop, state
        # carried across Arrow batches
        state: dict[int, list[int]] = {}  # user -> [n, s, alarms, maxs]
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
                st = state.get(int(u[a]))
                if st is None:
                    st = [0, 0, 0, 0]
                    state[int(u[a])] = st
                n, s, alarms, maxs = st
                for x in run:
                    pre = s + x - k
                    if pre < 0:
                        pre = 0
                    if pre > maxs:
                        maxs = pre
                    if pre >= h:
                        alarms += 1
                        s = 0
                    else:
                        s = pre
                st[0] = n + len(run)
                st[1] = s
                st[2] = alarms
                st[3] = maxs
        if state:
            yield pd.DataFrame(
                {
                    "user_id": list(state.keys()),
                    "n_events": [s[0] for s in state.values()],
                    "final_s": [s[1] for s in state.values()],
                    "n_alarms": [s[2] for s in state.values()],
                    "max_s": [s[3] for s in state.values()],
                }
            )

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "ts_us", "event_id")
        .mapInPandas(fold, schema=schema)
    )


# ---------------------------------------------------------------------------
# Tokenizer OOV audit (coverage against a bounded vocabulary)
# ---------------------------------------------------------------------------

_OOV_VOCAB = 24  # vocabulary size: top-K corpus tokens by (freq, token)


@register(
    "tokenizer_oov_audit",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tk FROM documents
    ), vocab AS (
      SELECT tk FROM (
        SELECT tk, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tk) AS rn
        FROM tok GROUP BY tk
      ) WHERE rn <= {_OOV_VOCAB}
    ), per_doc AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM tok t LEFT JOIN vocab v ON v.tk = t.tk
      GROUP BY 1
    )
    SELECT doc_id, n_tok, n_oov,
           CAST((1000000 * n_oov) // n_tok AS BIGINT) AS oov_ppm
    FROM per_doc WHERE n_oov > 0
    """,
    "Tokenization: out-of-vocabulary audit — per document, token "
    "count, OOV count, and OOV ppm against a bounded vocabulary (the "
    "top-K corpus tokens by frequency with deterministic (freq DESC, "
    "token ASC) ties — the stand-in for a fixed production vocab; "
    "swap the vocab CTE for a broadcast vocab table in deployment). "
    "Docs fully covered are absent (clean). The coverage signal that "
    "decides whether a tokenizer/vocab fits a new corpus before "
    "training (complements tokenizer_fertility's length ratio and "
    "detokenize_roundtrip's losslessness gate). Plan: one token "
    "aggregate for the vocab, one broadcast LEFT join probe on the "
    "token stream, one per-doc aggregate — the blocklist_term_audit "
    "cost shape.",
)
def tokenizer_oov_audit(spark, sf_dir):
    tok = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_toks()).alias("tk"))
    )
    wv = W.orderBy(F.desc("cnt"), F.asc("tk"))
    vocab = (
        tok.groupBy("tk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") <= _OOV_VOCAB)
        .select("tk", F.lit(1).alias("in_v"))
    )
    return (
        tok.join(F.broadcast(vocab), "tk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .where(F.col("n_oov") > 0)
        .select(
            "doc_id",
            "n_tok",
            "n_oov",
            F.expr("CAST((1000000 * n_oov) div n_tok AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (tie midranks, exact integer moments)
# ---------------------------------------------------------------------------


@register(
    "eval_spearman_rho",
    """
    WITH d AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS x,
             CAST(n_chars_like AS BIGINT) AS y
      FROM (
        SELECT value, LENGTH(props) AS n_chars_like FROM events
        WHERE value IS NOT NULL AND props IS NOT NULL
      )
    ), rx AS (
      SELECT x, CAST(2 * MIN(r) + COUNT(*) - 1 AS BIGINT) AS mr2
      FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS r FROM d)
      GROUP BY x
    ), ry AS (
      SELECT y, CAST(2 * MIN(r) + COUNT(*) - 1 AS BIGINT) AS mr2
      FROM (SELECT y, ROW_NUMBER() OVER (ORDER BY y) AS r FROM d)
      GROUP BY y
    ), ranked AS (
      SELECT rx.mr2 AS a, ry.mr2 AS b
      FROM d JOIN rx ON rx.x = d.x JOIN ry ON ry.y = d.y
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
             CAST(SUM(a * b) AS BIGINT) AS sab,
             CAST(SUM(a * a) AS BIGINT) AS saa,
             CAST(SUM(b * b) AS BIGINT) AS sbb
      FROM ranked
    )
    SELECT n,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) = 0
                  OR (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) = 0
                THEN 0
                ELSE CAST(FLOOR(1000000.0 *
                  ((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                   / SQRT((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                           - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                             - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))))
                  AS BIGINT)
           END AS rho_ppm
    FROM m
    """,
    "Evaluation: Spearman rank correlation between event value and "
    "props payload length, WITH tie handling — each side's ranks are "
    "doubled midranks (2*min_rank + ties - 1, an exact integer), so "
    "rho is Pearson over integer rank moments; the one irrational "
    "step (sqrt of the variance product) is a single identically-"
    "parenthesized IEEE chain floored to ppm (the eval_mcc / chi2 "
    "doctrine). Completes the rank-correlation pair with "
    "eval_kendall_tau (tau is O(n^2)-defined and capped there; "
    "Spearman is one rank pass, usable at any scale). Plan: two "
    "per-distinct-value rank windows (bounded by value cardinality), "
    "two broadcast rank joins, one 1-row moment aggregate. "
    "The moment sums stay in int64 (a*b <= 1e12 per row); their "
    "COMBINATION (n*sab - sa*sb ~ 1e23 at sf1) exceeds int64 on both "
    "engines, so it runs in doubles with identical parenthesization "
    "- deterministic, and the  <2^53-exactness of each cast moment "
    "is not required for cross-engine agreement, only identical "
    "IEEE rounding. Degenerate (constant) sides define rho = 0.",
)
def eval_spearman_rho(spark, sf_dir):
    d = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("props").isNotNull())
        .select(
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("x"),
            F.length("props").cast("long").alias("y"),
        )
    )
    def mid2(df, col):
        w = W.orderBy(col)
        return (
            df.select(col, F.row_number().over(w).alias("r"))
            .groupBy(col)
            .agg(
                (2 * F.min("r") + F.count(F.lit(1)) - 1)
                .cast("long")
                .alias("mr2")
            )
        )
    rx = mid2(d, "x").select(F.col("x").alias("jx"), F.col("mr2").alias("a"))
    ry = mid2(d, "y").select(F.col("y").alias("jy"), F.col("mr2").alias("b"))
    ranked = (
        d.join(F.broadcast(rx), d["x"] == F.col("jx"))
        .join(F.broadcast(ry), d["y"] == F.col("jy"))
        .select("a", "b")
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum(F.expr("a * b")).cast("long").alias("sab"),
        F.sum(F.expr("a * a")).cast("long").alias("saa"),
        F.sum(F.expr("b * b")).cast("long").alias("sbb"),
    )
    return m.select(
        "n",
        F.expr(
            """CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) = 0
                      OR (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                          - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) = 0
                    THEN 0L
                    ELSE CAST(FLOOR(1000000.0 *
                      ((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                       / SQRT((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                                 - CAST(sb AS DOUBLE)
                                   * CAST(sb AS DOUBLE)))))
                      AS BIGINT)
               END"""
        ).alias("rho_ppm"),
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset (farthest-point diversity sampling)
# ---------------------------------------------------------------------------

_KC_K = 8  # coreset size (selection rounds)


def _kcenter_oracle() -> str:
    """Unrolled replay of the greedy farthest-point traversal: center 1
    is the smallest vec_id; each next center is the point with the
    MAXIMUM current distance-to-selected (ties to the smaller id);
    distances are exact integer milli squared-L2, min-folded per
    round. Every round CTE is MATERIALIZED (each is referenced by the
    argmax AND the fold of the next round)."""
    qmil = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
        " * 1000 + 0.5) AS BIGINT))"
    )
    steps = []
    for r in range(2, _KC_K + 1):
        steps.append(f"""
    c{r} AS MATERIALIZED (
      SELECT vec_id, qv, mind FROM (
        SELECT vec_id, qv, mind,
               ROW_NUMBER() OVER (ORDER BY mind DESC, vec_id) AS rn
        FROM d{r - 1}
      ) WHERE rn = 1
    ),
    d{r} AS MATERIALIZED (
      SELECT d.vec_id, d.qv,
             LEAST(d.mind,
                   CAST(list_sum(list_transform(list_zip(d.qv, c.qv),
                            pr -> (pr[1] - pr[2]) * (pr[1] - pr[2])))
                        AS BIGINT))
               AS mind
      FROM d{r - 1} d, c{r} c
    )""")
    sel = "\n      UNION ALL\n".join(
        f"      SELECT {r} AS center_rank, vec_id, mind FROM c{r}"
        for r in range(2, _KC_K + 1)
    )
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id, {qmil} AS qv FROM embeddings
    ), c1 AS MATERIALIZED (
      SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1
    ), d1 AS MATERIALIZED (
      SELECT q.vec_id, q.qv,
             CAST(list_sum(list_transform(list_zip(q.qv, c.qv),
                      pr -> (pr[1] - pr[2]) * (pr[1] - pr[2])))
                  AS BIGINT) AS mind
      FROM q, c1 c
    ),
    {','.join(steps)}
    SELECT CAST(center_rank AS BIGINT) AS center_rank, vec_id,
           CAST(mind AS BIGINT) AS sel_dist FROM (
      SELECT 1 AS center_rank, vec_id, CAST(0 AS BIGINT) AS mind FROM c1
      UNION ALL
{sel}
    ) ORDER BY center_rank
    """


@register(
    "sample_kcenter_coreset",
    _kcenter_oracle(),
    "Data selection: greedy k-center coreset (Gonzalez 1985 "
    "farthest-point traversal — the 2-approximation behind coreset "
    "selection and diversity sampling for training-data pruning, "
    "Sener & Savarese 2018): seed with the smallest vec_id, then 7 "
    "rounds of pick-the-point-farthest-from-the-selected-set (integer "
    "milli squared-L2, ties to the smaller id), min-folding each "
    "point's distance-to-selected after every pick. Returns the 8 "
    "centers with their selection distances — a monotonically "
    "non-increasing sequence that IS the k-center radius profile. "
    "All-integer, so the unrolled-CTE oracle replays every pick "
    "including tie-breaks. Plan per round: one 1-row broadcast "
    "(whitelisted constant-append) + a map-side min-fold + one "
    "TakeOrderedAndProject argmax — the corpus is never shuffled; "
    "state is one (id, qv, mind) frame refreshed per round "
    "(branching recurrence -> per-round lineage cut, the HITS "
    "doctrine). At 100 TB with k in the thousands you batch picks "
    "per pass (k-center++ style); the per-pick shape stays as here.",
)
def sample_kcenter_coreset(spark, sf_dir):
    q = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000 + 0.5) AS BIGINT))"
        ).alias("qv"),
    )
    c1 = q.orderBy("vec_id").limit(1)
    dist_to = (
        "aggregate(zip_with(qv, cqv, (x, y) -> (x - y) * (x - y)),"
        " 0L, (a, x) -> a + x)"
    )
    d = (
        q.crossJoin(F.broadcast(c1.select(F.col("qv").alias("cqv"))))
        .select("vec_id", "qv", F.expr(dist_to).alias("mind"))
        .localCheckpoint(eager=False)
    )
    picks = [
        c1.select(
            F.lit(1).cast("long").alias("center_rank"),
            "vec_id",
            F.lit(0).cast("long").alias("sel_dist"),
        )
    ]
    for r in range(2, _KC_K + 1):
        c = (
            d.orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.col("vec_id").alias("cid"),
                F.col("qv").alias("cqv"),
                F.col("mind").alias("cdist"),
            )
        )
        picks.append(
            c.select(
                F.lit(r).cast("long").alias("center_rank"),
                F.col("cid").alias("vec_id"),
                F.col("cdist").alias("sel_dist"),
            )
        )
        d = (
            d.crossJoin(F.broadcast(c.select("cqv")))
            .select(
                "vec_id",
                "qv",
                F.least(F.col("mind"), F.expr(dist_to)).alias("mind"),
            )
            .localCheckpoint(eager=False)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.orderBy("center_rank")


# ---------------------------------------------------------------------------
# Degree assortativity (Pearson over directed-edge endpoint degrees)
# ---------------------------------------------------------------------------


@register(
    "graph_degree_assortativity",
    """
    WITH pairs AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000 AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT s AS src, c AS dst FROM pairs
      UNION
      SELECT c AS src, s AS dst FROM pairs
    ), deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM edges GROUP BY src
    ), ed AS (
      SELECT du.degree AS a, dv.degree AS b
      FROM edges e
      JOIN deg du ON du.node = e.src
      JOIN deg dv ON dv.node = e.dst
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
             CAST(SUM(a * b) AS BIGINT) AS sab,
             CAST(SUM(a * a) AS BIGINT) AS saa,
             CAST(SUM(b * b) AS BIGINT) AS sbb
      FROM ed
    )
    SELECT n,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) = 0
                  OR (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) = 0
                THEN 0
                ELSE CAST(FLOOR(1000000.0 *
                  ((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                   / SQRT((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                           - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                             - CAST(sb AS DOUBLE)
                               * CAST(sb AS DOUBLE)))))
                  AS BIGINT)
           END AS assortativity_ppm
    FROM m
    """,
    "Graph: degree assortativity (Newman 2002) of the "
    "supplier<->customer graph — Pearson correlation of the "
    "(src degree, dst degree) pairs over every directed edge; "
    "positive = hubs link hubs (social shape), negative = hubs link "
    "leaves (the bipartite/disassortative shape this transaction "
    "graph should show). The structural summary completing "
    "graph_degree_distribution (first moment) and graph_rich_club "
    "(tail connectivity). Integer moment sums (degree products fit "
    "int64 comfortably); the moment COMBINATION runs in identically-"
    "parenthesized IEEE doubles floored to ppm — the "
    "eval_spearman_rho doctrine. Degenerate (regular-graph) sides "
    "define 0. Plan: one degree aggregate, two broadcast-sized "
    "degree joins onto the edge list, one 1-row moment aggregate.",
)
def graph_degree_assortativity(spark, sf_dir):
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
        .union(
            pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    du = deg.select(F.col("node").alias("src"), F.col("degree").alias("a"))
    dv = deg.select(F.col("node").alias("dst"), F.col("degree").alias("b"))
    ed = edges.join(du, "src").join(dv, "dst").select("a", "b")
    m = ed.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum(F.expr("a * b")).cast("long").alias("sab"),
        F.sum(F.expr("a * a")).cast("long").alias("saa"),
        F.sum(F.expr("b * b")).cast("long").alias("sbb"),
    )
    return m.select(
        "n",
        F.expr(
            """CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) = 0
                      OR (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                          - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) = 0
                    THEN 0L
                    ELSE CAST(FLOOR(1000000.0 *
                      ((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                       / SQRT((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                                 - CAST(sb AS DOUBLE)
                                   * CAST(sb AS DOUBLE)))))
                      AS BIGINT)
               END"""
        ).alias("assortativity_ppm"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient per group (exact rank formula)
# ---------------------------------------------------------------------------


@register(
    "w_gini_by_group",
    """
    WITH d AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events
      WHERE value IS NOT NULL AND value >= 0 AND event_type IS NOT NULL
    ), ranked AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY x) AS i
      FROM d
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM ranked GROUP BY 1
    )
    SELECT event_type, n, sx AS total_c,
           CASE WHEN sx = 0 OR n = 1 THEN 0
                ELSE CAST(FLOOR(1000000.0 *
                  ((2.0 * CAST(six AS DOUBLE)
                    - (CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))))
                  AS BIGINT)
           END AS gini_ppm
    FROM m
    """,
    "Inequality: exact Gini coefficient of event value (cents) per "
    "event type via the rank formula G = (2*sum(i*x_(i)) - "
    "(n+1)*sum(x)) / (n*sum(x)) — the SCALAR the "
    "w_pareto_concentration decile Lorenz curve integrates to "
    "(bins-vs-Brier policy: the curve for diagnosis, the scalar for "
    "the gate). Ranks come from one per-group window; tie order "
    "cannot change the statistic (equal values times any permutation "
    "of consecutive ranks sums identically), so the window's "
    "tie-break is irrelevant — stated, not assumed. Integer moment "
    "sums; the final combination in identically-parenthesized IEEE "
    "doubles floored to ppm (the spearman doctrine; the ppm-scaled "
    "numerator would pass int64 only until ~5e5 rows/group). "
    "Degenerate groups (zero mass or a single row) define 0. Plan: "
    "one per-group rank window + one group aggregate.",
)
def w_gini_by_group(spark, sf_dir):
    d = (
        t(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & (F.col("value") >= 0)
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("x"),
        )
    )
    wr = W.partitionBy("event_type").orderBy("x")
    ranked = d.select(
        "event_type", "x", F.row_number().over(wr).cast("long").alias("i")
    )
    m = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.expr("i * x")).cast("long").alias("six"),
    )
    return m.select(
        "event_type",
        "n",
        F.col("sx").alias("total_c"),
        F.expr(
            """CASE WHEN sx = 0 OR n = 1 THEN 0L
                    ELSE CAST(FLOOR(1000000.0 *
                      ((2.0 * CAST(six AS DOUBLE)
                        - (CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))))
                      AS BIGINT)
               END"""
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction planner (lakehouse table maintenance)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 8192  # target compacted size (bytes of the size proxy)


@register(
    "maintenance_compaction_plan",
    f"""
    WITH f AS (
      SELECT doc_id AS file_id, n_chars AS bytes FROM documents
    ), c AS (
      SELECT file_id, bytes,
             COALESCE(SUM(bytes) OVER (
               ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM f
    )
    SELECT CAST(cb // {_COMPACT_TARGET} AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           MIN(file_id) AS first_file,
           MAX(file_id) AS last_file
    FROM c GROUP BY 1
    """,
    "Lakehouse table maintenance: small-file compaction planning — the "
    "job every 100 TB table needs between writes (daily ingestion "
    "produces one small file per partition per run; query latency dies "
    "by a thousand file opens). Files (the documents manifest, doc_id "
    "as file id, n_chars as the size proxy) pack into target-size "
    "output bins by EXCLUSIVE prefix sum: bin = floor(bytes_before / "
    "target) — the deterministic, order-preserving formulation of "
    "greedy first-fit that Iceberg/Delta-style bin-packing planners "
    "approximate, expressible as ONE window + one aggregate (no "
    "sequential driver loop; a stateful first-fit would plan the same "
    "bins except around files larger than the target, which both "
    "engines place identically here). Order preservation keeps "
    "locality: each bin is a CONTIGUOUS file range (first/last prove "
    "it). Scale shape: the input is the MANIFEST (file metadata, "
    "millions of rows at 100 TB — not data), so the global-order "
    "window is metadata-scale; the plan's output drives the actual "
    "rewrite, which is embarrassingly parallel per bin.",
)
def maintenance_compaction_plan(spark, sf_dir):
    files = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"), F.col("n_chars").alias("bytes")
    )
    w = W.orderBy("file_id").rowsBetween(W.unboundedPreceding, -1)
    c = files.withColumn(
        "cb", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    )
    return (
        c.withColumn("bin_id", F.expr(f"cb div {_COMPACT_TARGET}"))
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("bin_bytes"),
            F.min("file_id").alias("first_file"),
            F.max("file_id").alias("last_file"),
        )
    )


# ---------------------------------------------------------------------------
# Late-interaction (ColBERT MaxSim) retrieval over token vectors
# ---------------------------------------------------------------------------

_LI_TOKENS = 8   # per-doc token vectors kept (document truncation)
_LI_DIM = 4      # hash-projected token-vector dimension
_LI_CAND = 30    # candidate pool per query (posting-list overlap rank)
_LI_K = 3        # results per query
_LI_QUERIES = 3  # query docs: doc_id < 3


def _li_tvs_spark() -> str:
    dims = " + ".join(
        f"element_at(qv, {j}) * element_at(dv, {j})"
        for j in range(1, _LI_DIM + 1)
    )
    return dims


@register(
    "sim_late_interaction_topk",
    f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         x -> x <> '')[1:{_LI_TOKENS}] AS toks
      FROM documents
    ), tvs AS (
      SELECT doc_id,
             list_transform(toks, tok -> list_transform(range(1, {_LI_DIM + 1}),
               j -> (('0x' || substr(md5(tok || '|' || CAST(j AS VARCHAR)),
                                     1, 8))::BIGINT) % 201 - 100)) AS v
      FROM tk
    ), posting AS (
      SELECT DISTINCT doc_id, unnest(toks) AS tok FROM tk
    ), cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.doc_id
                 ORDER BY COUNT(*) DESC, d.doc_id) AS rn
        FROM posting q JOIN posting d ON q.tok = d.tok
        WHERE q.doc_id < {_LI_QUERIES} AND d.doc_id >= {_LI_QUERIES}
        GROUP BY 1, 2
      ) WHERE rn <= {_LI_CAND}
    ), scored AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(qa.v, qv ->
               list_max(list_transform(da.v, dv ->
                 qv[1]*dv[1] + qv[2]*dv[2] + qv[3]*dv[3] + qv[4]*dv[4]))))
               AS BIGINT) AS maxsim
      FROM cand c
      JOIN tvs qa ON qa.doc_id = c.query_id
      JOIN tvs da ON da.doc_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, maxsim, rank FROM (
      SELECT query_id, neighbor_id, maxsim,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY maxsim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_LI_K}
    """,
    "Late-interaction retrieval (ColBERT, Khattab & Zaharia 2020): "
    "MaxSim scoring — score(q, d) = sum over q's token vectors of the "
    "max dot against d's token vectors — the multi-vector model that "
    "beats single-vector retrieval on fine-grained matching and is "
    "exactly what a training-data mining pipeline runs for targeted "
    "example retrieval. Token vectors are deterministic md5-hash "
    "projections (dim 4, [-100, 100] ints — the feature_hashing "
    "doctrine standing in for a learned encoder; all-integer so both "
    "engines agree bit-for-bit), documents truncate to their first 8 "
    "tokens, and candidate generation is the INDEX path: posting-list "
    "overlap rank (top-30 by shared tokens, the impact-ordered pool) "
    "— MaxSim runs on candidates only, never all pairs, which is the "
    "production ColBERT architecture (candidate gen from an inverted "
    "index, exact late interaction on the pool). Scale shape: the "
    "posting join shuffles (token, id) pairs; scoring is a "
    "broadcast-sized query join over a bounded pool; per-pair work is "
    "8x8 4-dim integer dots in map-side HOFs (bounded, not "
    "quadratic-in-corpus).",
)
def sim_late_interaction_topk(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"slice(filter(split(lower(text), ' '), x -> x != ''),"
            f" 1, {_LI_TOKENS})"
        ).alias("toks"),
    )
    tvs = docs.select(
        "doc_id",
        F.expr(
            f"transform(toks, tok -> transform(sequence(1, {_LI_DIM}),"
            f" j -> cast(conv(substring(md5(concat(tok, '|',"
            f" cast(j AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            f" % 201 - 100))"
        ).alias("v"),
    )
    posting = docs.select(
        "doc_id", F.explode("toks").alias("tok")
    ).distinct()
    qp = posting.where(f"doc_id < {_LI_QUERIES}").select(
        F.col("doc_id").alias("query_id"), "tok"
    )
    dp = posting.where(f"doc_id >= {_LI_QUERIES}").select(
        F.col("doc_id").alias("neighbor_id"), "tok"
    )
    w_cand = W.partitionBy("query_id").orderBy(
        F.desc("shared"), F.asc("neighbor_id")
    )
    cand = (
        qp.join(dp, "tok")
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .withColumn("rn", F.row_number().over(w_cand))
        .where(F.col("rn") <= _LI_CAND)
        .select("query_id", "neighbor_id")
    )
    scored = (
        cand.join(
            F.broadcast(
                tvs.where(f"doc_id < {_LI_QUERIES}").select(
                    F.col("doc_id").alias("query_id"),
                    F.col("v").alias("qvs"),
                )
            ),
            "query_id",
        )
        .join(
            tvs.select(
                F.col("doc_id").alias("neighbor_id"),
                F.col("v").alias("dvs"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(qvs, 0L, (acc, qv) -> acc +"
                " array_max(transform(dvs, dv -> "
                + _li_tvs_spark()
                + ")))"
            ).alias("maxsim"),
        )
    )
    w_top = W.partitionBy("query_id").orderBy(
        F.desc("maxsim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_top))
        .where(F.col("rank") <= _LI_K)
        .select("query_id", "neighbor_id", "maxsim", "rank")
    )


# ---------------------------------------------------------------------------
# Retention vacuum planner (time-travel-safe file deletion)
# ---------------------------------------------------------------------------

_VAC_RETAIN_US = 7 * 86_400_000_000  # retention window below MAX(ts)


@register(
    "retention_vacuum_plan",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), wm AS (
      SELECT MAX(us) - {_VAC_RETAIN_US} AS wm FROM ev
    ), old AS (
      SELECT e.user_id, e.event_id, e.us,
             ROW_NUMBER() OVER (PARTITION BY e.user_id
               ORDER BY e.us DESC, e.event_id DESC) AS rn
      FROM ev e CROSS JOIN wm WHERE e.us < wm.wm
    ), tot AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_versions
      FROM ev GROUP BY 1
    ), pre AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_pre_watermark,
             CAST(COUNT(*) - 1 AS BIGINT) AS n_deletable,
             MAX(CASE WHEN rn = 1 THEN event_id END) AS floor_event_id
      FROM old GROUP BY 1
    )
    SELECT t.user_id, t.n_versions, p.n_pre_watermark, p.n_deletable,
           p.floor_event_id
    FROM tot t JOIN pre p ON p.user_id = t.user_id
    """,
    "Lakehouse table maintenance, part 2 (with "
    "maintenance_compaction_plan): retention VACUUM planning — which "
    "file versions a retention policy may delete WITHOUT breaking "
    "time travel. Events stand in for the per-partition version log "
    "(user_id = partition, event = a commit's file version); the "
    "watermark is corpus-relative (MAX(ts) - 7 days — a retention "
    "POLICY is relative to now, never an absolute date). The rule is "
    "the Delta/Iceberg one: everything older than the watermark is "
    "deletable EXCEPT the newest pre-watermark version per partition "
    "— that one is the time-travel floor (reconstructing the table AS "
    "OF the watermark needs it). Output per partition: total "
    "versions, pre-watermark count, deletable count, and the floor "
    "version id. Plan: one 1-row watermark broadcast append "
    "(whitelisted constant-append), one per-partition window over the "
    "pre-watermark slice, two metadata-grain aggregates — the input "
    "is a version MANIFEST, metadata-scale at 100 TB.",
)
def retention_vacuum_plan(spark, sf_dir):
    ev = (
        t(spark, sf_dir, "events")
        .where("ts IS NOT NULL AND user_id IS NOT NULL")
        .select("user_id", "event_id", F.expr("ts div 1000").alias("us"))
    )
    wm = ev.agg(
        (F.max("us") - F.lit(_VAC_RETAIN_US)).alias("wm")
    )
    old = (
        ev.crossJoin(F.broadcast(wm))
        .where("us < wm")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(
                    F.desc("us"), F.desc("event_id")
                )
            ),
        )
    )
    tot = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions")
    )
    pre = old.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pre_watermark"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_deletable"),
        F.max(F.when(F.col("rn") == 1, F.col("event_id"))).alias(
            "floor_event_id"
        ),
    )
    return tot.join(pre, "user_id").select(
        "user_id",
        "n_versions",
        "n_pre_watermark",
        "n_deletable",
        "floor_event_id",
    )


# ---------------------------------------------------------------------------
# Bloom-filter join-prefilter effectiveness audit (runtime filters)
# ---------------------------------------------------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_SIZE_LT = 15  # build-side dim filter: p_size < 15


def _bloom_pos(h32: str, s: str, tag: str) -> str:
    inner = "concat(CAST(" + s + " AS STRING), '" + tag + "')"
    return "(" + h32.format(s=inner) + ") % " + str(_BLOOM_M)


@register(
    "join_bloom_prefilter_audit",
    f"""
    WITH bk AS (
      SELECT DISTINCT p_partkey AS k FROM part WHERE p_size < {_BLOOM_SIZE_LT}
    ), bits AS (
      SELECT DISTINCT pos FROM (
        SELECT {_H32_DUCK.format(s="CAST(k AS VARCHAR) || 'a'")}
               % {_BLOOM_M} AS pos FROM bk
        UNION ALL
        SELECT {_H32_DUCK.format(s="CAST(k AS VARCHAR) || 'b'")}
               % {_BLOOM_M} FROM bk
      )
    ), pk AS (
      SELECT DISTINCT l_partkey AS k FROM lineitem
    ), passing AS (
      SELECT pk.k FROM pk
      WHERE {_H32_DUCK.format(s="CAST(pk.k AS VARCHAR) || 'a'")}
              % {_BLOOM_M} IN (SELECT pos FROM bits)
        AND {_H32_DUCK.format(s="CAST(pk.k AS VARCHAR) || 'b'")}
              % {_BLOOM_M} IN (SELECT pos FROM bits)
    ), exactk AS (
      SELECT pk.k FROM pk WHERE pk.k IN (SELECT k FROM bk)
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bk) AS build_keys,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS probe_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_partkey IN (SELECT k FROM passing)) AS bloom_pass_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_partkey IN (SELECT k FROM exactk)) AS exact_rows
    """,
    "Runtime-filter effectiveness audit: how many probe-side rows "
    "would a k=2, m=4096 Bloom filter of the (filtered) build-side "
    "join keys admit, vs the exact semi-join — the measurement behind "
    "Spark's own runtime row-group/bloom filter pushdown, made "
    "first-class so a pipeline can DECIDE whether shipping a bloom to "
    "the probe scan is worth it (false-positive rows = bloom_pass - "
    "exact; at 100 TB the difference is shuffle volume saved vs a "
    "4 KB broadcast). Deterministic md5 bit positions (the "
    "feature-hashing doctrine), both hash probes must hit set bits — "
    "exact set-membership replay on both engines, no probabilistic "
    "library type. Plan: the bit set and the build keys are "
    "broadcast-sized (<= m rows); probing is two broadcast semi-joins "
    "on DISTINCT probe keys, then one broadcast semi-join back onto "
    "the fact rows — the fact table is scanned once and never "
    "shuffled.",
)
def join_bloom_prefilter_audit(spark, sf_dir):
    part = (
        t(spark, sf_dir, "part")
        .where(f"p_size < {_BLOOM_SIZE_LT}")
        .select(F.col("p_partkey").alias("k"))
        .distinct()
    )
    h = _H32_SPARK
    pos_a = _bloom_pos(h, "k", "a")
    pos_b = _bloom_pos(h, "k", "b")
    bits = (
        part.select(F.expr(pos_a).alias("pos"))
        .unionAll(part.select(F.expr(pos_b).alias("pos")))
        .distinct()
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k")
    )
    pk = li.distinct().select(
        "k",
        F.expr(pos_a).alias("ha"),
        F.expr(pos_b).alias("hb"),
    )
    passing = pk.join(
        F.broadcast(bits.withColumnRenamed("pos", "ha")), "ha", "left_semi"
    ).join(
        F.broadcast(bits.withColumnRenamed("pos", "hb")), "hb", "left_semi"
    ).select("k")
    exactk = pk.select("k").join(F.broadcast(part), "k", "left_semi")
    c_build = part.agg(F.count(F.lit(1)).cast("long").alias("build_keys"))
    c_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    c_probe = li.agg(F.count(F.lit(1)).cast("long").alias("probe_rows"))
    c_pass = li.join(F.broadcast(passing), "k", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("bloom_pass_rows")
    )
    c_exact = li.join(F.broadcast(exactk), "k", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("exact_rows")
    )
    return (
        c_build.crossJoin(F.broadcast(c_bits))
        .crossJoin(F.broadcast(c_probe))
        .crossJoin(F.broadcast(c_pass))
        .crossJoin(F.broadcast(c_exact))
    )


# ---------------------------------------------------------------------------
# Token-bucket rate-limit admission audit (per-user sequential fold)
# ---------------------------------------------------------------------------

_RL_CAP = 3                      # bucket capacity (tokens)
_RL_REFILL_US = 21_600_000_000   # 1 token per 6 hours


@register(
    "stream_rate_limit_audit",
    f"""
    WITH RECURSIVE x AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn,
             epoch_us(ts) AS us
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), r AS (
      SELECT user_id, rn, us,
             {_RL_CAP} - 1 AS tok, 1 AS adm
      FROM x WHERE rn = 1
      UNION ALL
      SELECT x.user_id, x.rn, x.us,
             CASE WHEN LEAST({_RL_CAP},
                             r.tok + (x.us - r.us) // {_RL_REFILL_US}) >= 1
                  THEN LEAST({_RL_CAP},
                             r.tok + (x.us - r.us) // {_RL_REFILL_US}) - 1
                  ELSE LEAST({_RL_CAP},
                             r.tok + (x.us - r.us) // {_RL_REFILL_US})
             END,
             r.adm + CASE WHEN LEAST({_RL_CAP},
                             r.tok + (x.us - r.us) // {_RL_REFILL_US}) >= 1
                          THEN 1 ELSE 0 END
      FROM r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1
    ), n AS (
      SELECT user_id, CAST(MAX(rn) AS BIGINT) AS n_events
      FROM x GROUP BY user_id
    )
    SELECT n.user_id, n.n_events,
           CAST(r.adm AS BIGINT) AS n_admitted,
           CAST(n.n_events - r.adm AS BIGINT) AS n_rejected,
           CAST(r.tok AS BIGINT) AS final_tokens
    FROM n JOIN r ON r.user_id = n.user_id AND r.rn = n.n_events
    """,
    "Ingestion admission control: token-bucket rate limiting per key "
    "(capacity 3, refill 1 token / 6 h in integer micros, bucket "
    "starts full) — the fold every crawl/API ingestion front-end runs "
    "(crawl_politeness_schedule plans WHEN to fetch; this audits what "
    "an enforcement bucket WOULD have admitted on the observed "
    "arrivals). The recurrence is order-dependent with clamp-and-"
    "consume state (no window frame expresses min(cap, tok + "
    "elapsed // refill) followed by conditional decrement), so it "
    "uses the ewma/CUSUM Arrow shape: ONE shuffle on user_id + "
    "sortWithinPartitions, a single-pass mapInPandas kernel carrying "
    "per-user (tokens, admitted, prev_ts) across batches — all "
    "integer (positive deltas, so // == div), any partitioning "
    "bit-identical, DuckDB recursive CTE replays the exact fold. At "
    "100 TB: state is O(keys), rows stream through Arrow once.",
)
def stream_rate_limit_audit(spark, sf_dir):
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    ev = (
        t(spark, sf_dir, "events")
        .where("ts IS NOT NULL AND user_id IS NOT NULL")
        .select(
            "user_id", "event_id", F.expr("ts div 1000").alias("us")
        )
    )
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("n_admitted", LongType()),
            StructField("n_rejected", LongType()),
            StructField("final_tokens", LongType()),
        ]
    )
    cap, refill = _RL_CAP, _RL_REFILL_US

    def fold(batches):
        state: dict[int, list[int]] = {}  # user -> [n, tok, adm, prev_us]
        for pdf in batches:
            u = pdf["user_id"].to_numpy()
            if not len(u):
                continue
            us = pdf["us"].to_numpy()
            cuts = np.flatnonzero(u[1:] != u[:-1]) + 1
            starts = np.concatenate(([0], cuts)).tolist()
            ends = np.concatenate((cuts, [len(u)])).tolist()
            for a, b in zip(starts, ends):
                run = us[a:b].tolist()
                st = state.get(int(u[a]))
                if st is None:
                    st = [0, cap, 0, None]
                    state[int(u[a])] = st
                n, tok, adm, prev = st[0], st[1], st[2], st[3]
                for x in run:
                    if prev is not None:
                        tok = min(cap, tok + (x - prev) // refill)
                    if tok >= 1:
                        adm += 1
                        tok -= 1
                    prev = x
                st[0] = n + len(run)
                st[1] = tok
                st[2] = adm
                st[3] = prev
        if state:
            yield pd.DataFrame(
                {
                    "user_id": list(state.keys()),
                    "n_events": [s[0] for s in state.values()],
                    "n_admitted": [s[2] for s in state.values()],
                    "n_rejected": [s[0] - s[2] for s in state.values()],
                    "final_tokens": [s[1] for s in state.values()],
                }
            )

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "us", "event_id")
        .mapInPandas(fold, schema=schema)
    )
