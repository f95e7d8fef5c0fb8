"""Catalog extensions: analysis batch 3 — series, sketches, structure.

KWIC, seasonal/Markov/Haar series analysis, AMS-F2/FM sketches,
LIS/knapsack DP audits, rich-club, ER clusters, Huffman/Shannon code
audits, cohort jackknife, and the deterministic integer-Lloyd
k-means + oracle-backed IVF family.
Split out of catalog_analysis.py, whose shared constants and helpers it
imports; ``catalog._load_extensions`` imports it after catalog_analysis.
"""

from __future__ import annotations

from pyspark.sql import Window as W  # noqa: F401
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.catalog import register, t
from youtube_trending_data_pipeline_spark.catalog_analysis import (  # noqa: F401
    _ABL_MIN_TOK,
    _ER_BAND_C,
    _ER_CLOSE_C,
    _ER_SHIFT_C,
    _ER_THRESHOLD,
    _ER_U_BAND,
    _ER_U_CLOSE,
    _ER_U_SEG,
    _ER_W_BAND,
    _ER_W_CLOSE,
    _ER_W_SEG,
    _H32_DUCK,
    _H32_SPARK,
    _QV_SPARK,
    _QV_SQL,
    _TOKS_SQL,
    _mutual_cte_sql,
    _mutual_knn_edges,
    _toks_a,
    er_blocked_match_score,
    late_event_audit,
)
from youtube_trending_data_pipeline_spark.operators.intlinalg import (
    _exact_sq_l2,
    _rowwise_topk,
    _split_group,
)

# ---------------------------------------------------------------------------
# Keyword-in-context (KWIC) concordance
# ---------------------------------------------------------------------------

_KWIC_TERM = "spark"
_KWIC_CTX = 2


@register(
    "text_kwic_concordance",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), hits AS (
      SELECT doc_id, toks, i AS pos
      FROM tk, unnest(range(1, len(toks) + 1)) AS u(i)
      WHERE toks[i] = '{_KWIC_TERM}'
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           -- COALESCE: an edge-of-document slice is NULL in DuckDB but
           -- an empty array (-> '') in Spark
           COALESCE(array_to_string(
             toks[GREATEST(1, pos - {_KWIC_CTX}):pos - 1], ' '), '')
             AS left_ctx,
           COALESCE(array_to_string(
             toks[pos + 1:LEAST(len(toks), pos + {_KWIC_CTX})], ' '), '')
             AS right_ctx
    FROM hits
    """,
    "Keyword-in-context concordance (the corpus linguist's KWIC view, "
    "and the snippet generator behind search-result highlighting): "
    "every occurrence of the term with its +-2-token context windows, "
    "clamped at document edges. Spark keeps the token array and "
    "slices it per hit (posexplode for positions, slice for context "
    "— no self-join back to the text); the oracle replays the same "
    "1-based slices with DuckDB list ranges. One scan, per-doc "
    "fan-out bounded by term frequency.",
)
def text_kwic_concordance(spark, sf_dir):
    hits = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks_a().alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.posexplode("toks").alias("pos0", "tok"),
        )
        .where(F.col("tok") == _KWIC_TERM)
        .select("doc_id", "toks", (F.col("pos0") + 1).alias("pos"))
    )
    return hits.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.array_join(
            F.expr(
                f"slice(toks, GREATEST(1, pos - {_KWIC_CTX}), "
                f"pos - GREATEST(1, pos - {_KWIC_CTX}))"
            ),
            " ",
        ).alias("left_ctx"),
        F.array_join(
            F.expr(
                f"slice(toks, pos + 1, "
                f"LEAST(size(toks), pos + {_KWIC_CTX}) - pos)"
            ),
            " ",
        ).alias("right_ctx"),
    )


# ---------------------------------------------------------------------------
# Seasonal-residual anomaly detection (seasonal-naive + MAD)
# ---------------------------------------------------------------------------

_AR_MAD_K = 3


@register(
    "anomaly_seasonal_residual",
    f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), resid AS (
      SELECT event_type, day, v,
             v - LAG(v, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS r
      FROM daily
    ), scored AS (
      SELECT event_type, day, v, r, abs(r) AS ar,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY abs(r), day) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS nr
      FROM resid WHERE r IS NOT NULL
    ), mad AS (
      SELECT event_type,
             MAX(CASE WHEN rn = (nr + 1) // 2 THEN ar END) AS mad_c
      FROM scored GROUP BY event_type
    )
    SELECT s.event_type, CAST(s.day AS BIGINT) AS day, s.v, s.r AS residual_c,
           m.mad_c,
           CAST(CASE WHEN abs(s.r) > {_AR_MAD_K} * m.mad_c
                THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM scored s JOIN mad m USING (event_type)
    WHERE abs(s.r) > {_AR_MAD_K} * m.mad_c
    """,
    "Seasonal-residual anomaly detection — the composition every "
    "monitoring stack runs: deseasonalize by the seasonal-naive "
    "forecast (value minus same-weekday-last-week), then flag days "
    "whose |residual| exceeds 3x the MAD of residuals — the robust "
    "band that raw-value z-scores (grouped_zscore) and raw-value MAD "
    "(events_anomaly_mad) both get wrong on strongly weekly data, "
    "because the seasonal swing IS their 'anomaly'. MAD as the lower "
    "median of |residuals| (exact order statistic, deterministic "
    "ties); emits only the flagged days — the page-the-oncall list, "
    "not a scored firehose. One daily aggregate + lag window + one "
    "per-type order statistic.",
)
def anomaly_seasonal_residual(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    daily = (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("(ts div 1000) div 86400000000").alias("day"),
            cents("value").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    wl = W.partitionBy("event_type").orderBy("day")
    resid = daily.withColumn(
        "r", F.col("v") - F.lag("v", 7).over(wl)
    ).where(F.col("r").isNotNull())
    ws = W.partitionBy("event_type").orderBy(F.abs(F.col("r")), F.col("day"))
    scored = resid.select(
        "event_type",
        "day",
        "v",
        "r",
        F.abs("r").alias("ar"),
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("nr"),
    )
    mad = scored.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(nr + 1) div 2"), F.col("ar"))
        ).alias("mad_c")
    )
    return (
        scored.join(mad, "event_type")
        .where(F.abs(F.col("r")) > _AR_MAD_K * F.col("mad_c"))
        .select(
            "event_type",
            F.col("day").cast("long").alias("day"),
            "v",
            F.col("r").alias("residual_c"),
            "mad_c",
            F.lit(1).cast("long").alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution (unrolled power iteration)
# ---------------------------------------------------------------------------

_MK_ITERS = 4
_MK_SCALE = 1000000


def _markov_oracle() -> str:
    """Unrolled power iteration over the event-type transition matrix:
    pi_{t+1}(j) = sum_i pi_t(i) * c_ij // r_i, integer ppm with
    truncating division (the deterministic approximation both engines
    replay identically). MATERIALIZED rounds: each reads the previous
    vector once and the static matrix once."""
    steps = []
    for i in range(1, _MK_ITERS + 1):
        steps.append(f"""
    p{i} AS MATERIALIZED (
      SELECT m.dst AS state,
             CAST(SUM((p.pi * m.c) // m.r) AS BIGINT) AS pi
      FROM p{i - 1} p JOIN m ON m.src = p.state
      GROUP BY m.dst
    )""")
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_ns(ts), event_id) AS rn
      FROM events
    ), trans AS (
      SELECT a.event_type AS src, b.event_type AS dst
      FROM seq a JOIN seq b
        ON a.user_id = b.user_id AND b.rn = a.rn + 1
    ), m AS MATERIALIZED (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY src) AS BIGINT) AS r
      FROM trans GROUP BY src, dst
    ), states AS (
      SELECT DISTINCT src AS state FROM m
    ), p0 AS MATERIALIZED (
      SELECT state,
             CAST({_MK_SCALE} // (SELECT COUNT(*) FROM states) AS BIGINT)
               AS pi
      FROM states
    ),
    {','.join(steps)}
    SELECT state AS event_type, pi AS pi_ppm FROM p{_MK_ITERS}
    """


@register(
    "markov_stationary_iter",
    _markov_oracle(),
    "Markov stationary distribution by power iteration over the "
    "event-type transition matrix event_transition_matrix builds: "
    "four unrolled rounds of pi*P in integer ppm (counts over row "
    "totals, truncating division — a deterministic approximation "
    "both engines replay bit-for-bit; exact rational iteration would "
    "blow past int64 by round 2), starting uniform. The steady-state "
    "view of user behavior that a raw frequency count ONLY matches "
    "when the chain is already mixed — on real funnels they differ, "
    "which is the point of computing it. Per round: one join of the "
    "5-vector onto the dimension-sized matrix + one aggregate; the "
    "states^2 matrix never grows with data.",
)
def markov_stationary_iter(spark, sf_dir):
    seq = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    a, b = seq.alias("a"), seq.alias("b")
    trans = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.rn") == F.col("a.rn") + 1),
    ).select(
        F.col("a.event_type").alias("src"),
        F.col("b.event_type").alias("dst"),
    )
    m = (
        trans.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "r", F.sum("c").over(W.partitionBy("src")).cast("long")
        )
        .localCheckpoint(eager=False)
    )
    states = m.select(F.col("src").alias("state")).distinct()
    n_states = states.agg(F.count(F.lit(1)).alias("ns"))
    pi = (
        states.crossJoin(F.broadcast(n_states))
        .select(
            "state",
            F.expr(f"CAST({_MK_SCALE} div ns AS BIGINT)").alias("pi"),
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(_MK_ITERS):
        # linear recurrence (pi referenced once per round) — no
        # per-round lineage cut needed, the pagerank_integer doctrine;
        # only the reused transition matrix m is checkpointed above
        pi = (
            m.join(pi, m["src"] == pi["state"])
            .groupBy(F.col("dst").alias("state2"))
            .agg(
                F.sum(F.expr("(pi * c) div r")).cast("long").alias("pi")
            )
            .select(F.col("state2").alias("state"), "pi")
        )
    return pi.select(
        F.col("state").alias("event_type"), F.col("pi").alias("pi_ppm")
    )


# ---------------------------------------------------------------------------
# Unnormalized Haar wavelet decomposition of the daily series
# ---------------------------------------------------------------------------

_HAAR_N = 8  # first 8 days -> 3 levels


def _haar_oracle() -> str:
    """Replays the 3-level unnormalized Haar pyramid over the first 8
    daily totals: level sums/differences only — no division, fully
    integer-exact."""
    # x0..x7 columns, then 3 unrolled levels
    xs = ", ".join(
        f"MAX(CASE WHEN rn = {i + 1} THEN v END) AS x{i}"
        for i in range(_HAAR_N)
    )
    l1 = ", ".join(
        [f"(x{2*i} + x{2*i+1}) AS a1_{i}" for i in range(4)]
        + [f"(x{2*i} - x{2*i+1}) AS d1_{i}" for i in range(4)]
    )
    l2 = ", ".join(
        [f"(a1_{2*i} + a1_{2*i+1}) AS a2_{i}" for i in range(2)]
        + [f"(a1_{2*i} - a1_{2*i+1}) AS d2_{i}" for i in range(2)]
    )
    l3 = "(a2_0 + a2_1) AS a3_0, (a2_0 - a2_1) AS d3_0"
    outs = (
        ["('a3', 0, a3_0)", "('d3', 0, d3_0)"]
        + [f"('d2', {i}, d2_{i})" for i in range(2)]
        + [f"('d1', {i}, d1_{i})" for i in range(4)]
    )
    unions = " UNION ALL ".join(
        f"SELECT event_type, {o[1:-1].split(',')[0]} AS coef, "
        f"CAST({o[1:-1].split(',')[1]} AS BIGINT) AS idx, "
        f"CAST({o[1:-1].split(',')[2]} AS BIGINT) AS value_c FROM lvl3"
        for o in outs
    )
    return f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS rn
      FROM daily
    ), wide AS (
      SELECT event_type, {xs}
      FROM ranked WHERE rn <= {_HAAR_N} GROUP BY event_type
    ), lvl1 AS (SELECT event_type, {l1} FROM wide),
    lvl2 AS (SELECT event_type, d1_0, d1_1, d1_2, d1_3, {l2} FROM lvl1),
    lvl3 AS (SELECT event_type, d1_0, d1_1, d1_2, d1_3, d2_0, d2_1, {l3}
             FROM lvl2)
    {unions}
    """


@register(
    "haar_transform_daily",
    _haar_oracle(),
    "Unnormalized Haar wavelet pyramid over each type's first 8 daily "
    "cent totals: pairwise sums (approximation) and differences "
    "(detail) across 3 levels — NO division anywhere, so the "
    "multiresolution coefficients are fully integer-exact in both "
    "engines (the normalized transform's sqrt(2) factors are exactly "
    "what cross-engine float math cannot replay). a3_0 is the total "
    "over the window, d3_0 the half-vs-half contrast, d2_* the "
    "2-day-block contrasts, d1_* the day-pair contrasts — the "
    "wavelet synopsis classic histogram/approximate-query papers "
    "(Matias-Vitter-Wang) build on, and the energy-by-level readout "
    "that separates trend from daily noise. One daily aggregate + a "
    "per-type 8-slot pivot + pure column arithmetic.",
)
def haar_transform_daily(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    daily = (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("(ts div 1000) div 86400000000").alias("day"),
            cents("value").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    wr = W.partitionBy("event_type").orderBy("day")
    wide = (
        daily.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= _HAAR_N)
        .groupBy("event_type")
        .agg(
            *[
                F.max(
                    F.when(F.col("rn") == i + 1, F.col("v"))
                ).alias(f"x{i}")
                for i in range(_HAAR_N)
            ]
        )
    )
    lvl = wide
    for i in range(4):
        lvl = lvl.withColumn(f"a1_{i}", F.col(f"x{2*i}") + F.col(f"x{2*i+1}"))
        lvl = lvl.withColumn(f"d1_{i}", F.col(f"x{2*i}") - F.col(f"x{2*i+1}"))
    for i in range(2):
        lvl = lvl.withColumn(
            f"a2_{i}", F.col(f"a1_{2*i}") + F.col(f"a1_{2*i+1}")
        )
        lvl = lvl.withColumn(
            f"d2_{i}", F.col(f"a1_{2*i}") - F.col(f"a1_{2*i+1}")
        )
    lvl = lvl.withColumn("a3_0", F.col("a2_0") + F.col("a2_1"))
    lvl = lvl.withColumn("d3_0", F.col("a2_0") - F.col("a2_1"))
    outs = (
        [("a3", 0, "a3_0"), ("d3", 0, "d3_0")]
        + [("d2", i, f"d2_{i}") for i in range(2)]
        + [("d1", i, f"d1_{i}") for i in range(4)]
    )
    frames = [
        lvl.select(
            "event_type",
            F.lit(name).alias("coef"),
            F.lit(idx).cast("long").alias("idx"),
            F.col(col).cast("long").alias("value_c"),
        )
        for name, idx, col in outs
    ]
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionAll(fdf)
    return out


# ---------------------------------------------------------------------------
# AMS second-frequency-moment (F2) sketch
# ---------------------------------------------------------------------------

_AMS_ESTIMATORS = 8


@register(
    "sketch_ams_f2",
    f"""
    WITH tk AS (
      SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ), cnt AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY tok
    ), est AS (
      SELECT j.j,
             CAST(SUM(CASE WHEN
               {_H32_DUCK.format(s="cnt.tok || '#' || CAST(j.j AS VARCHAR)")}
               % 2 = 0 THEN cnt.c ELSE -cnt.c END) AS BIGINT) AS s
      FROM cnt, (SELECT unnest(range({_AMS_ESTIMATORS})) AS j) j
      GROUP BY j.j
    ), agg AS (
      SELECT CAST(SUM(s * s) // {_AMS_ESTIMATORS} AS BIGINT) AS f2_est
      FROM est
    ), ex AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM cnt
    )
    SELECT agg.f2_est, ex.f2_exact,
           CAST((1000000 * agg.f2_est) // ex.f2_exact AS BIGINT)
             AS ratio_ppm
    FROM agg, ex
    """,
    "AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996, "
    "the Godel-prize streaming estimator): eight +-1 hash estimators "
    "each fold the token counts into one signed sum, F2_est = "
    "mean(s^2) against the exact sum(c^2) audit — self-join sizing "
    "and skew detection from CONSTANT state per estimator, the "
    "theoretical ancestor of every sketch in this engine's kmv/theta/"
    "cms family. Deterministic md5 parities replace the 4-wise "
    "independent seeds, so both engines replay the identical "
    "estimate; the vocabulary aggregate is the only shuffle and the "
    "8-way estimator spine collapses map-side.",
)
def sketch_ams_f2(spark, sf_dir):
    cnt = (
        t(spark, sf_dir, "documents")
        .select(F.explode(_toks_a()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    js = spark.range(0, _AMS_ESTIMATORS).select(F.col("id").alias("j"))
    sign_h = _H32_SPARK.format(s="concat(tok, '#', cast(j as string))")
    est = (
        cnt.crossJoin(F.broadcast(js))
        .select(
            "j",
            F.expr(
                f"CASE WHEN {sign_h} % 2 = 0 THEN c ELSE -c END"
            ).alias("sc"),
        )
        .groupBy("j")
        .agg(F.sum("sc").cast("long").alias("s"))
    )
    agg = est.agg(
        F.expr(
            f"CAST(SUM(s * s) div {_AMS_ESTIMATORS} AS BIGINT)"
        ).alias("f2_est")
    )
    ex = cnt.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_exact"))
    return agg.crossJoin(F.broadcast(ex)).select(
        "f2_est",
        "f2_exact",
        F.expr(
            "CAST((1000000 * f2_est) div f2_exact AS BIGINT)"
        ).alias("ratio_ppm"),
    )


# ---------------------------------------------------------------------------
# Longest increasing subsequence (per user, capped, unrolled DP)
# ---------------------------------------------------------------------------

_LIS_CAP = 12     # first N events per user
_LIS_ROUNDS = 12  # LIS length <= cap, so cap rounds always reach fixpoint


def _lis_oracle() -> str:
    """Unrolled DP: lis_r(j) = max(lis_{r-1}(j), 1 + max over
    precedence edges (i -> j)). MATERIALIZED rounds: each reads the
    previous vector twice (carry + relax) plus the static edge set."""
    steps = []
    for r in range(1, _LIS_ROUNDS + 1):
        steps.append(f"""
    l{r} AS MATERIALIZED (
      SELECT user_id, j, MAX(v) AS v FROM (
        SELECT user_id, j, v FROM l{r - 1}
        UNION ALL
        SELECT e.user_id, e.j, p.v + 1
        FROM prec e JOIN l{r - 1} p
          ON p.user_id = e.user_id AND p.j = e.i
      ) GROUP BY user_id, j
    )""")
    return f"""
    WITH w AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS val,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_ns(ts), event_id) AS rn
      FROM events
    ), cap AS MATERIALIZED (
      SELECT user_id, val, rn FROM w WHERE rn <= {_LIS_CAP}
    ), prec AS MATERIALIZED (
      SELECT a.user_id, a.rn AS i, b.rn AS j
      FROM cap a JOIN cap b
        ON a.user_id = b.user_id AND a.rn < b.rn AND a.val < b.val
    ), l0 AS MATERIALIZED (
      SELECT user_id, rn AS j, CAST(1 AS BIGINT) AS v FROM cap
    ),
    {','.join(steps)}
    SELECT user_id, CAST(MAX(v) AS BIGINT) AS lis_len
    FROM l{_LIS_ROUNDS} GROUP BY user_id
    """


@register(
    "seq_lis_length",
    _lis_oracle(),
    "Longest strictly-increasing subsequence of each user's value "
    "series (first 12 events — the pass@k capping discipline bounds "
    "both the precedence pairs at 66/user and the DP rounds): the "
    "classic sequence-analytics measure of monotone structure vs "
    "churn (LIS near n = steady growth; near 1 = no persistent "
    "trend), computed as an unrolled DP fixpoint — lis(j) relaxes "
    "over the strict (earlier, smaller) precedence edges one "
    "extension per round, monotone nondecreasing, so 12 rounds "
    "provably reach the fixpoint and the unrolled-CTE oracle "
    "replays the exact prefix. Per round: one equi-join of the DP "
    "vector onto the static capped edge set + one max aggregate "
    "(the pagerank doctrine on a DAG).",
)
def seq_lis_length(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    w = t(spark, sf_dir, "events").select(
        "user_id",
        cents("value").alias("val"),
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    cap = w.where(F.col("rn") <= _LIS_CAP).localCheckpoint(eager=False)
    a, b = cap.alias("a"), cap.alias("b")
    prec = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.rn") < F.col("b.rn"))
            & (F.col("a.val") < F.col("b.val")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.rn").alias("i"),
            F.col("b.rn").alias("j"),
        )
        .localCheckpoint(eager=False)
    )
    lis = cap.select(
        "user_id", F.col("rn").alias("j"), F.lit(1).cast("long").alias("v")
    ).localCheckpoint(eager=False)
    for r in range(_LIS_ROUNDS):
        relaxed = prec.join(
            lis,
            (prec["user_id"] == lis["user_id"]) & (prec["i"] == lis["j"]),
        ).select(
            prec["user_id"].alias("user_id"),
            prec["j"].alias("j"),
            (lis["v"] + 1).alias("v"),
        )
        lis = (
            lis.unionAll(relaxed)
            .groupBy("user_id", "j")
            .agg(F.max("v").alias("v"))
        )
        if r % 2 == 1:
            lis = lis.localCheckpoint(eager=False)
    return lis.groupBy("user_id").agg(
        F.max("v").cast("long").alias("lis_len")
    )


# ---------------------------------------------------------------------------
# Exact 0/1 knapsack (unrolled DP) vs density-greedy budget selection
# ---------------------------------------------------------------------------

_KS_ITEMS = 12
_KS_CAP = 24


def _knapsack_oracle() -> str:
    """Unrolled item rounds over the capacity-indexed DP vector:
    best_i(c) = max(best_{i-1}(c), best_{i-1}(c - w_i) + v_i)."""
    steps = []
    for r in range(1, _KS_ITEMS + 1):
        steps.append(f"""
    b{r} AS MATERIALIZED (
      SELECT c, MAX(v) AS v FROM (
        SELECT c, v FROM b{r - 1}
        UNION ALL
        SELECT p.c + it.w AS c, p.v + it.val AS v
        FROM b{r - 1} p JOIN items it ON it.rn = {r}
        WHERE p.c + it.w <= {_KS_CAP}
      ) GROUP BY c
    )""")
    return f"""
    WITH docs12 AS (
      SELECT doc_id,
             CAST(len(list_distinct({_TOKS_SQL})) AS BIGINT) AS val,
             CAST(len({_TOKS_SQL}) // 8 + 1 AS BIGINT) AS w
      FROM documents ORDER BY doc_id LIMIT {_KS_ITEMS}
    ), items AS MATERIALIZED (
      SELECT doc_id, val, w,
             ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
      FROM docs12
    ), b0 AS MATERIALIZED (
      SELECT CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS v
    ),
    {','.join(steps)},
    greedy AS (
      SELECT COALESCE(SUM(val), 0) AS gv FROM (
        SELECT val,
               SUM(w) OVER (ORDER BY (1000 * val) // w DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS run_w
        FROM items
      ) WHERE run_w <= {_KS_CAP}
    )
    SELECT CAST({_KS_CAP} AS BIGINT) AS capacity,
           CAST({_KS_ITEMS} AS BIGINT) AS n_items,
           (SELECT CAST(MAX(v) AS BIGINT) FROM b{_KS_ITEMS})
             AS optimal_value,
           (SELECT CAST(gv AS BIGINT) FROM greedy) AS greedy_value
    """


@register(
    "budget_knapsack_optimal",
    _knapsack_oracle(),
    "EXACT 0/1 knapsack vs the density-greedy heuristic "
    "corpus_budget_select uses — the audit that quantifies what the "
    "greedy budget selection leaves on the table: 12 candidate "
    "documents (value = distinct tokens, weight = token-count band) "
    "against capacity 24, solved by the unrolled capacity-indexed DP "
    "(one relax round per item — the Bellman recurrence as 12 "
    "MATERIALIZED CTE rounds, DP vector never exceeding capacity+1 "
    "rows) next to the prefix-density greedy (take in value/weight "
    "order while the running weight fits; the prefix rule, not "
    "skip-and-continue, so it stays window-expressible — stated "
    "contract). optimal >= greedy always; the gap is the price of "
    "the heuristic. The item cap bounds DP work at any corpus "
    "scale; selecting WHICH 12 candidates is the upstream sampler's "
    "job.",
)
def budget_knapsack_optimal(spark, sf_dir):
    toks = _toks_a()
    docs12 = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.array_distinct(toks)).cast("long").alias("val"),
            (F.size(toks) / 8).cast("long").alias("_wb"),
        )
        .select("doc_id", "val", (F.col("_wb") + 1).alias("w"))
        .orderBy("doc_id")
        .limit(_KS_ITEMS)
    )
    items = docs12.withColumn(
        "rn", F.row_number().over(W.orderBy("doc_id"))
    ).localCheckpoint(eager=False)
    best = spark.createDataFrame([(0, 0)], "c long, v long")
    for r in range(1, _KS_ITEMS + 1):
        it = items.where(F.col("rn") == r).select("w", "val")
        shifted = (
            best.crossJoin(F.broadcast(it))
            .where(F.col("c") + F.col("w") <= _KS_CAP)
            .select(
                (F.col("c") + F.col("w")).alias("c"),
                (F.col("v") + F.col("val")).alias("v"),
            )
        )
        best = (
            best.unionAll(shifted)
            .groupBy("c")
            .agg(F.max("v").alias("v"))
        )
        if r % 3 == 0:
            best = best.localCheckpoint(eager=False)
    optimal = best.agg(F.max("v").cast("long").alias("optimal_value"))
    wg = W.orderBy(
        F.desc(F.expr("(1000 * val) div w")), F.asc("doc_id")
    ).rowsBetween(W.unboundedPreceding, 0)
    greedy = (
        items.withColumn("run_w", F.sum("w").over(wg))
        .where(F.col("run_w") <= _KS_CAP)
        .agg(
            F.coalesce(F.sum("val"), F.lit(0))
            .cast("long")
            .alias("greedy_value")
        )
    )
    return (
        optimal.crossJoin(F.broadcast(greedy))
        .select(
            F.lit(_KS_CAP).cast("long").alias("capacity"),
            F.lit(_KS_ITEMS).cast("long").alias("n_items"),
            "optimal_value",
            "greedy_value",
        )
    )


# ---------------------------------------------------------------------------
# Rich-club coefficient of the mutual-kNN graph
# ---------------------------------------------------------------------------

_RC_TOP = 20


def _rich_club_oracle() -> str:
    return f"""
    WITH {_mutual_cte_sql("mut")}, deg AS (
      SELECT src AS node, COUNT(*) AS d FROM mut GROUP BY 1
    ), club AS MATERIALIZED (
      SELECT node FROM deg ORDER BY d DESC, node LIMIT {_RC_TOP}
    ), internal AS (
      SELECT COUNT(*) AS e2  -- symmetric edges: 2x undirected count
      FROM mut
      JOIN club ca ON ca.node = mut.src
      JOIN club cb ON cb.node = mut.dst
    )
    SELECT CAST({_RC_TOP} AS BIGINT) AS club_size,
           CAST(e2 // 2 AS BIGINT) AS internal_edges,
           CAST({_RC_TOP * (_RC_TOP - 1) // 2} AS BIGINT)
             AS possible_edges,
           -- all-integer: DOUBLE // rounds differently than BIGINT div
           CAST((1000000 * CAST(e2 // 2 AS BIGINT))
                // {_RC_TOP * (_RC_TOP - 1) // 2} AS BIGINT) AS phi_ppm
    FROM internal
    """


@register(
    "graph_rich_club",
    _rich_club_oracle(),
    "Rich-club coefficient (Zhou & Mondragon 2004) of the mutual-kNN "
    "embedding graph: take the 20 highest-degree vertices (ties to "
    "the smaller id), count the edges they keep among THEMSELVES, "
    "and report phi = internal / possible in ppm — do the hubs form "
    "their own dense club (hub-and-spoke redundancy, a structural "
    "health read on the manifold) or spread their links outward? "
    "One degree aggregate + a 20-row broadcast club + two semi-join "
    "legs; symmetric edges counted once by halving. Round 7: runs on "
    "the BOUNDED IVF-pivot mutual-kNN build (_mutual_knn_edges), "
    "never all-pairs. Completes the structural family with kcore "
    "(vertex peel) and ktruss (edge peel) on the same graph.",
)
def graph_rich_club(spark, sf_dir):
    mutual = _mutual_knn_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = mutual.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    club = (
        deg.orderBy(F.desc("d"), F.asc("node"))
        .limit(_RC_TOP)
        .select("node")
        .localCheckpoint(eager=False)
    )
    internal = (
        mutual.join(
            club.withColumnRenamed("node", "ca"),
            F.col("src") == F.col("ca"),
            "left_semi",
        )
        .join(
            club.withColumnRenamed("node", "cb"),
            F.col("dst") == F.col("cb"),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("e2"))
    )
    possible = _RC_TOP * (_RC_TOP - 1) // 2
    return internal.select(
        F.lit(_RC_TOP).cast("long").alias("club_size"),
        F.expr("CAST(e2 / 2 AS BIGINT)").alias("internal_edges"),
        F.lit(possible).cast("long").alias("possible_edges"),
        F.expr(
            f"CAST((1000000 * (e2 div 2)) div {possible} AS BIGINT)"
        ).alias("phi_ppm"),
    )


# ---------------------------------------------------------------------------
# Flajolet-Martin rho-max distinct sketch (the HLL ancestor)
# ---------------------------------------------------------------------------


@register(
    "sketch_fm_rho_max",
    f"""
    WITH e AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) || ':' ||
             CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS s
      FROM events
    ), hv AS (
      SELECT {_H32_DUCK.format(s="s")} AS h FROM e
    ), rho AS (
      -- rho = 1-based position of the lowest set bit: h & -h isolates
      -- it, length(bin(.)) reads its position; h = 0 cannot occur for
      -- md5-32 of distinct nonempty strings but is guarded anyway
      SELECT CASE WHEN h = 0 THEN 33
                  ELSE length(bin(h & (-h))) END AS rho
      FROM hv
    ), agg AS (
      SELECT CAST(MAX(rho) AS BIGINT) AS max_rho FROM rho
    ), ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM e
    )
    SELECT agg.max_rho,
           CAST(1 AS BIGINT) << agg.max_rho AS fm_raw_estimate,
           ex.exact_distinct
    FROM agg, ex
    """,
    "Flajolet-Martin rho-max distinct sketch (1985 — the ancestor "
    "HyperLogLog refined): the maximum 1-based position of the lowest "
    "set hash bit over the user-day set, with 2^max_rho as the raw "
    "estimate next to the exact count — a SINGLE MAX is the whole "
    "sketch state, the most mergeable summary there is, and exactly "
    "why the family scales (a14_approx_distinct is the production "
    "HLL; kmv/theta are the order-statistics cousins; this entry is "
    "the lineage's root, bias and all — raw FM is expected ~2^rho/"
    "0.775, so the estimate reads high by design). Bit position via "
    "h & -h then length(bin(.)) — identical integer semantics in "
    "both engines, no float log2.",
)
def sketch_fm_rho_max(spark, sf_dir):
    e = (
        t(spark, sf_dir, "events")
        .select(
            F.concat_ws(
                ":",
                F.col("user_id").cast("string"),
                F.expr("(ts div 1000) div 86400000000").cast("string"),
            ).alias("s")
        )
        .distinct()
    )
    hv = e.select(F.expr(_H32_SPARK.format(s="s")).alias("h"))
    rho = hv.select(
        F.expr(
            "CASE WHEN h = 0 THEN 33 "
            "ELSE length(bin(h & (-h))) END"
        ).alias("rho")
    )
    agg = rho.agg(F.max("rho").cast("long").alias("max_rho"))
    ex = e.agg(F.count(F.lit(1)).cast("long").alias("exact_distinct"))
    return agg.crossJoin(F.broadcast(ex)).select(
        "max_rho",
        F.expr("CAST(shiftleft(1L, cast(max_rho as int)) AS BIGINT)").alias(
            "fm_raw_estimate"
        ),
        "exact_distinct",
    )


# ---------------------------------------------------------------------------
# Weekday seasonality profile
# ---------------------------------------------------------------------------


@register(
    "weekday_profile",
    """
    WITH d AS (
      SELECT event_type,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS weekday,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events
    ), agg AS (
      SELECT event_type, weekday,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(c) AS BIGINT) AS total_c
      FROM d GROUP BY 1, 2
    )
    SELECT event_type, CAST(weekday AS BIGINT) AS weekday, n_events,
           total_c,
           CAST((1000000 * total_c)
                // SUM(total_c) OVER (PARTITION BY event_type) AS BIGINT)
             AS share_ppm
    FROM agg
    """,
    "Weekday seasonality profile: per (type, weekday) event counts "
    "and cent totals with each weekday's ppm share of its type — the "
    "profile that justifies (or kills) the lag-7 seasonal-naive "
    "baseline forecast_seasonal_naive_mae scores against. Weekday "
    "from pure epoch-day arithmetic ((day + 4) % 7, Thursday-epoch "
    "corrected so 0 = Sunday) — no calendar/timezone functions, so "
    "both engines agree on every boundary. One aggregate + one "
    "dimension-sized share window.",
)
def weekday_profile(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    d = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("((ts div 1000) div 86400000000 + 4) % 7").alias("weekday"),
        cents("value").alias("c"),
    )
    agg = d.groupBy("event_type", "weekday").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("c").cast("long").alias("total_c"),
    )
    wt = W.partitionBy("event_type")
    return agg.select(
        "event_type",
        F.col("weekday").cast("long").alias("weekday"),
        "n_events",
        "total_c",
        F.expr(
            "CAST((1000000 * total_c) div "
            "SUM(total_c) OVER (PARTITION BY event_type) AS BIGINT)"
        ).alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Source-level vocabulary Jaccard matrix
# ---------------------------------------------------------------------------


@register(
    "source_token_jaccard",
    f"""
    WITH st AS (
      SELECT DISTINCT source, tok
      FROM (SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents)
    ), sz AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           sa.n AS n_a, sb.n AS n_b,
           CAST((1000000 * i.n_common)
                // (sa.n + sb.n - i.n_common) AS BIGINT) AS jaccard_ppm
    FROM inter i
    JOIN sz sa ON sa.source = i.src_a
    JOIN sz sb ON sb.source = i.src_b
    """,
    "Source-level vocabulary overlap: pairwise Jaccard (ppm) between "
    "every two sources' DISTINCT token sets — the corpus-comparison "
    "grain above document dedup (dedup_* compare documents; this "
    "compares COLLECTIONS), the first read when deciding whether two "
    "feeds are redundant mirrors or complementary. The intersection "
    "is a token-keyed self-join of the source-token incidence (never "
    "source x source x docs), sizes join back by key — "
    "dimension-bounded end to end: |sources|^2 output no matter the "
    "corpus size.",
)
def source_token_jaccard(spark, sf_dir):
    st = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(_toks_a()).alias("tok"))
        .distinct()
    )
    sz = st.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        inter.join(
            sz.withColumnRenamed("source", "src_a").withColumnRenamed(
                "n", "n_a"
            ),
            "src_a",
        )
        .join(
            sz.withColumnRenamed("source", "src_b").withColumnRenamed(
                "n", "n_b"
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr(
                "CAST((1000000 * n_common) div (n_a + n_b - n_common) "
                "AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Entity clusters: ER match pairs closed into components
# ---------------------------------------------------------------------------


def _er_clusters_oracle(sf_dir: str | None = None) -> str:
    """Composes the registered ER-scoring oracle with a recursive
    transitive closure (the dedup_components doctrine)."""
    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    er = QUERIES["er_blocked_match_score"].oracle
    return f"""
    WITH RECURSIVE matches AS (
      SELECT a_key, b_key FROM ({er}) m
    ),
    edges AS (
      SELECT a_key AS src, b_key AS dst FROM matches
      UNION
      SELECT b_key, a_key FROM matches
    ),
    reach(node, root) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
      SELECT node, MIN(root) AS entity_id FROM reach GROUP BY node
    )
    SELECT CAST(node AS BIGINT) AS c_custkey,
           CAST(entity_id AS BIGINT) AS entity_id,
           CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT)
             AS cluster_size
    FROM comp
    """


@register(
    "er_entity_clusters",
    _er_clusters_oracle,
    "End-to-end record linkage: the Fellegi-Sunter match pairs from "
    "er_blocked_match_score closed into ENTITIES by connected "
    "components (if A matches B and B matches C, all three are one "
    "entity even when A-C never scored above threshold — the "
    "transitive step every MDM/golden-record system runs after "
    "scoring). Spark composes the registered scoring entry with the "
    "large-star/small-star CC operator (operators/components.py, "
    "O(log n) rounds); the oracle composes the registered scoring "
    "SQL with a recursive-CTE closure — both sides reuse the exact "
    "artifacts they are built from, the sim_pq_recall_audit "
    "composition doctrine. Output: every matched customer with its "
    "canonical entity id (min member key) and cluster size.",
)
def er_entity_clusters(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import QUERIES
    from youtube_trending_data_pipeline_spark.operators.components import (
        connected_components,
    )

    pairs = QUERIES["er_blocked_match_score"].fn(spark, sf_dir).select(
        F.col("a_key").alias("src"), F.col("b_key").alias("dst")
    )
    comp = connected_components(pairs)
    wc = W.partitionBy("component")
    return comp.select(
        F.col("node").cast("long").alias("c_custkey"),
        F.col("component").cast("long").alias("entity_id"),
        F.count(F.lit(1)).over(wc).cast("long").alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# Optimal Huffman code lengths (bounded vocabulary dimension)
# ---------------------------------------------------------------------------


# Loud cap on the driver-side vocabulary collect (the semdedup cell-cap
# doctrine, VERDICT r9 item 5): the Huffman build is O(V log V) DRIVER
# memory/time, correct only while the vocabulary is a bounded dimension
# (the synthetic corpus has 31 symbols; real subword vocabs are <= 256k).
# A corpus whose tokenization explodes past the cap must FAIL loudly at
# the collect, not OOM the driver — raising preserves the entry's EXACT
# contract (no silent truncation, which would silently change lengths).
_HUFFMAN_VOCAB_CAP = 4096


def _huffman_vocab_guard(n_tokens: int) -> None:
    if n_tokens > _HUFFMAN_VOCAB_CAP:
        raise ValueError(
            f"token_huffman_code_audit: vocabulary has > "
            f"{_HUFFMAN_VOCAB_CAP} distinct tokens; the driver-side "
            "Huffman build is for bounded vocabularies — use "
            "token_huffman_code_audit_capped (top-(k-1) + merged rest "
            "leaf, bounded at any corpus size) or raise "
            "_HUFFMAN_VOCAB_CAP deliberately"
        )


def _huffman_lengths(counts: list[tuple[str, int]]) -> dict[str, int]:
    """Reference Huffman with total deterministic tie-breaking: the heap
    orders by (weight, min-member-token), so equal-weight merges are a
    pure function of the data. Returns token -> code length."""
    import heapq

    if len(counts) == 1:
        return {counts[0][0]: 1}
    heap = [(c, tok, {tok: 0}) for tok, c in counts]
    heapq.heapify(heap)
    while len(heap) > 1:
        c1, k1, m1 = heapq.heappop(heap)
        c2, k2, m2 = heapq.heappop(heap)
        merged = {t: d + 1 for t, d in m1.items()}
        merged.update({t: d + 1 for t, d in m2.items()})
        heapq.heappush(heap, (c1 + c2, min(k1, k2), merged))
    return heap[0][2]


def _sql_quote(token: str) -> str:
    """Escape a corpus token for embedding in a SQL string literal
    (ADVICE r12: a top-k token containing a single quote would
    otherwise break the generated oracle with a syntax error)."""
    return token.replace("'", "''")


def _huffman_oracle(sf_dir: str | None = None) -> str:
    """GENERATED oracle (the _pca_oracle_sql doctrine): DuckDB reads the
    same parquet, the reference Huffman (deterministic tie-breaks) runs
    outside Spark, and the emitted SQL verifies BOTH the recomputed
    token counts and the embedded optimal lengths — count drift or any
    Spark-side plumbing error breaks the join."""
    import os

    import duckdb

    sf = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
          SELECT unnest({_TOKS_SQL}) AS tok
          FROM '{sf}/documents.parquet'
        ) GROUP BY tok
        """
    ).fetchall()
    _huffman_vocab_guard(len(rows))
    lengths = _huffman_lengths([(t, c) for t, c in rows])
    values = ", ".join(
        f"('{_sql_quote(t)}', {l})" for t, l in sorted(lengths.items())
    )
    return f"""
    WITH cnt AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT unnest({_TOKS_SQL}) AS tok FROM documents
      ) GROUP BY tok
    ), hl(tok, code_bits) AS (VALUES {values})
    SELECT cnt.tok, cnt.c, CAST(hl.code_bits AS BIGINT) AS code_bits,
           CAST(cnt.c * hl.code_bits AS BIGINT) AS weighted_bits
    FROM cnt JOIN hl USING (tok)
    """


@register(
    "token_huffman_code_audit",
    _huffman_oracle,
    "OPTIMAL Huffman code lengths for the token vocabulary — the "
    "exact answer token_shannon_code_audit upper-bounds: the "
    "vocabulary is a BOUNDED DIMENSION (the PCA d-by-d doctrine), so "
    "the counts aggregate distributes, the 31-symbol Huffman build "
    "runs driver-side with total deterministic tie-breaking (heap "
    "ordered by (weight, min member token) — equal-weight merges are "
    "a pure function of the data), and the lengths broadcast-join "
    "back. The generated oracle re-derives counts AND the reference "
    "Huffman outside Spark (the _pca_oracle_sql pattern) and verifies "
    "both. Behavioral tests pin the Kraft EQUALITY (sum 2^-L == 1, "
    "which Shannon codes only bound) and optimality <= the Shannon "
    "audit's weighted bits. Round 10: the driver-side collect is "
    "bounded by a LOUD 4096-token vocab cap on BOTH engines (the "
    "semdedup cell-cap doctrine) — an exploded vocabulary raises "
    "instead of OOMing the driver or silently truncating.",
)
def token_huffman_code_audit(spark, sf_dir):
    cnt = (
        t(spark, sf_dir, "documents")
        .select(F.explode(_toks_a()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # bounded collect: fetch at most cap+1 rows so an exploded vocab
    # raises loudly instead of materializing on the driver (for vocabs
    # within the cap, limit(cap+1) IS the complete result set)
    rows = cnt.limit(_HUFFMAN_VOCAB_CAP + 1).collect()
    _huffman_vocab_guard(len(rows))
    counts = [(r["tok"], r["c"]) for r in rows]
    lengths = _huffman_lengths(counts)
    hl = spark.createDataFrame(
        sorted(lengths.items()), "tok string, code_bits long"
    )
    return cnt.join(F.broadcast(hl), "tok").select(
        "tok",
        "c",
        "code_bits",
        (F.col("c") * F.col("code_bits")).cast("long").alias("weighted_bits"),
    )


# ---------------------------------------------------------------------------
# Capped Huffman audit: the production form of token_huffman_code_audit
# ---------------------------------------------------------------------------


# Production form of the Huffman audit (the dedup_containment_capped
# precedent): instead of raising when the vocabulary passes the driver
# cap, keep the top-(k-1) tokens by count and merge everything else
# into ONE rest pseudo-leaf, so the driver-side collect is bounded BY
# CONSTRUCTION at any corpus size.  k = 16 (not the 4096 parent cap) so
# the tail-merge path is exercised at every SF, including the gate
# corpus' 31-symbol vocabulary — the capped entry's behavior never
# depends on whether the data happens to fit.
_HUFFMAN_CAPPED_K = 16
_HUFFMAN_REST = "<rest>"


def _huffman_capped_split(
    rows: list[tuple[str, int]], k: int
) -> tuple[list[tuple[str, int]], int]:
    """Deterministic top-(k-1) by (count DESC, token ASC) + summed tail.
    Pure function shared by the Spark entry (applied distributed) and
    the generated oracle (applied to the DuckDB counts)."""
    ordered = sorted(rows, key=lambda tc: (-tc[1], tc[0]))
    top = ordered[: k - 1]
    return top, sum(c for _, c in ordered[k - 1 :])


def _huffman_rest_collision_guard(has_collision: bool) -> None:
    if has_collision:
        raise ValueError(
            "token_huffman_code_audit_capped: the corpus contains the "
            f"reserved rest label {_HUFFMAN_REST!r} as a real token — "
            "the merged-tail row would be ambiguous; pick a different "
            "_HUFFMAN_REST for this corpus"
        )


def _huffman_capped_oracle(sf_dir: str | None = None) -> str:
    """GENERATED oracle (the _huffman_oracle pattern): DuckDB recomputes
    the full token counts AND the tail sum; only the keep-set and the
    reference Huffman lengths (derived outside Spark from the same
    deterministic split) are embedded — count drift on either side
    breaks the VALUES join."""
    import os

    import duckdb

    sf = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
          SELECT unnest({_TOKS_SQL}) AS tok
          FROM '{sf}/documents.parquet'
        ) GROUP BY tok
        """
    ).fetchall()
    _huffman_rest_collision_guard(any(t == _HUFFMAN_REST for t, _ in rows))
    top, rest_c = _huffman_capped_split(
        [(t, c) for t, c in rows], _HUFFMAN_CAPPED_K
    )
    leaves = top + ([(_HUFFMAN_REST, rest_c)] if rest_c else [])
    lengths = _huffman_lengths(leaves)
    keep_values = ", ".join(f"('{_sql_quote(t)}')" for t, _ in sorted(top))
    hl_values = ", ".join(
        f"('{_sql_quote(t)}', {l})" for t, l in sorted(lengths.items())
    )
    rest_arm = (
        f"""
      UNION ALL
      SELECT '{_HUFFMAN_REST}' AS tok, CAST(SUM(c) AS BIGINT) AS c
      FROM cnt WHERE tok NOT IN (SELECT tok FROM keep)
        """
        if rest_c
        else ""
    )
    return f"""
    WITH cnt AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT unnest({_TOKS_SQL}) AS tok FROM documents
      ) GROUP BY tok
    ), keep(tok) AS (VALUES {keep_values}),
    merged AS (
      SELECT tok, c FROM cnt WHERE tok IN (SELECT tok FROM keep)
      {rest_arm}
    ), hl(tok, code_bits) AS (VALUES {hl_values})
    SELECT merged.tok, merged.c, CAST(hl.code_bits AS BIGINT) AS code_bits,
           CAST(merged.c * hl.code_bits AS BIGINT) AS weighted_bits
    FROM merged JOIN hl USING (tok)
    """


@register(
    "token_huffman_code_audit_capped",
    _huffman_capped_oracle,
    "PRODUCTION form of token_huffman_code_audit (found by the round-12 "
    "100x sweep: the parent's loud 4096-vocab cap fires at 500 k docs). "
    "The dedup_containment_capped doctrine applied to the driver-side "
    "collect: keep the top-(k-1) tokens by (count DESC, token ASC) — a "
    "deterministic, distributed ORDER BY ... LIMIT — and merge the "
    "entire tail into ONE '<rest>' pseudo-leaf whose count is a single "
    "1-row aggregate, so the Huffman build's driver memory is k leaves "
    "BY CONSTRUCTION at any corpus size. k = 16 (deliberately below the "
    "gate corpus' 31-symbol vocabulary) so the tail-merge path runs at "
    "every SF rather than only past the parent's cap. A reserved-label "
    "collision ('<rest>' appearing as a real token) raises loudly on "
    "both engines. The generated oracle recomputes counts AND the tail "
    "sum in DuckDB; only the keep-set and reference Huffman lengths are "
    "embedded (the _huffman_oracle pattern).",
)
def token_huffman_code_audit_capped(spark, sf_dir):
    cnt = (
        t(spark, sf_dir, "documents")
        .select(F.explode(_toks_a()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # vocab-sized; reused by 3 bounded passes
    )
    top_rows = (
        cnt.orderBy(F.col("c").desc(), "tok")
        .limit(_HUFFMAN_CAPPED_K - 1)
        .collect()
    )
    keep = [r["tok"] for r in top_rows]
    probe = cnt.agg(
        F.sum(
            F.when(~F.col("tok").isin(keep), F.col("c")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("tail_c"),
        F.max((F.col("tok") == _HUFFMAN_REST).cast("int")).alias("collide"),
    ).collect()[0]
    _huffman_rest_collision_guard(bool(probe["collide"]))
    rest_c = int(probe["tail_c"] or 0)
    leaves = [(r["tok"], r["c"]) for r in top_rows] + (
        [(_HUFFMAN_REST, rest_c)] if rest_c else []
    )
    lengths = _huffman_lengths(leaves)
    hl = spark.createDataFrame(
        sorted(lengths.items()), "tok string, code_bits long"
    )
    merged = cnt.filter(F.col("tok").isin(keep))
    if rest_c:
        merged = merged.unionAll(
            spark.createDataFrame(
                [(_HUFFMAN_REST, rest_c)], "tok string, c long"
            )
        )
    return merged.join(F.broadcast(hl), "tok").select(
        "tok",
        "c",
        "code_bits",
        (F.col("c") * F.col("code_bits")).cast("long").alias("weighted_bits"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa between two annotation heuristics
# ---------------------------------------------------------------------------


@register(
    "eval_cohens_kappa",
    f"""
    WITH lab AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 300 THEN 'long'
                  WHEN n_chars >= 150 THEN 'mid' ELSE 'short' END AS a,
             CASE WHEN len(list_distinct({_TOKS_SQL})) >= 28 THEN 'long'
                  WHEN len(list_distinct({_TOKS_SQL})) >= 20 THEN 'mid'
                  ELSE 'short' END AS b
      FROM documents
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab),
    agree AS (
      SELECT CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS po
      FROM lab
    ), marg AS (
      SELECT CAST(SUM(na * nb) AS BIGINT) AS pe_num FROM (
        SELECT COALESCE(ma.c, 0) AS na, COALESCE(mb.c, 0) AS nb
        FROM (SELECT a AS k, COUNT(*) AS c FROM lab GROUP BY 1) ma
        FULL OUTER JOIN (SELECT b AS k, COUNT(*) AS c FROM lab GROUP BY 1) mb
          USING (k)
      )
    )
    SELECT n.n, agree.po AS n_agree,
           CAST((1000000 * agree.po) // n.n AS BIGINT) AS po_ppm,
           CAST((1000000 * marg.pe_num) // (n.n * n.n) AS BIGINT) AS pe_ppm,
           CAST((1000000 * (agree.po * n.n - marg.pe_num))
                // (n.n * n.n - marg.pe_num) AS BIGINT) AS kappa_ppm
    FROM n, agree, marg
    """,
    "Cohen's kappa (1960) between two annotation heuristics — the "
    "inter-annotator-agreement number every labeling pipeline "
    "reports before trusting its labels: a char-length bander and a "
    "vocabulary-richness bander each assign short/mid/long, observed "
    "agreement is corrected by the chance agreement the marginals "
    "imply, all in EXACT integer arithmetic (kappa = (po*n - pe_num)"
    " / (n^2 - pe_num) scaled to ppm — no float probabilities, both "
    "engines agree to the last ppm). Full-outer marginal join keeps "
    "labels one annotator never uses. One scan + two tiny "
    "aggregates; chance-corrected agreement is what separates a "
    "real rubric from two heuristics that agree by accident.",
)
def eval_cohens_kappa(spark, sf_dir):
    toks = _toks_a()
    lab = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("n_chars") >= 300, "long")
        .when(F.col("n_chars") >= 150, "mid")
        .otherwise("short")
        .alias("a"),
        F.when(F.size(F.array_distinct(toks)) >= 28, "long")
        .when(F.size(F.array_distinct(toks)) >= 20, "mid")
        .otherwise("short")
        .alias("b"),
    )
    n = lab.agg(F.count(F.lit(1)).cast("long").alias("n"))
    agree = lab.agg(
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("po")
    )
    ma = lab.groupBy(F.col("a").alias("k")).agg(
        F.count(F.lit(1)).alias("na")
    )
    mb = lab.groupBy(F.col("b").alias("k")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    marg = (
        ma.join(mb, "k", "full_outer")
        .select(
            (
                F.coalesce("na", F.lit(0)) * F.coalesce("nb", F.lit(0))
            ).alias("prod")
        )
        .agg(F.sum("prod").cast("long").alias("pe_num"))
    )
    return (
        n.crossJoin(F.broadcast(agree))
        .crossJoin(F.broadcast(marg))
        .select(
            "n",
            F.col("po").alias("n_agree"),
            F.expr("CAST((1000000 * po) div n AS BIGINT)").alias("po_ppm"),
            F.expr(
                "CAST((1000000 * pe_num) div (n * n) AS BIGINT)"
            ).alias("pe_ppm"),
            F.expr(
                "CAST((1000000 * (po * n - pe_num)) div (n * n - pe_num) "
                "AS BIGINT)"
            ).alias("kappa_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Total-variation drift distance between time halves
# ---------------------------------------------------------------------------


@register(
    "drift_tv_distance",
    """
    WITH b AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) <= (SELECT (MIN(epoch_us(ts))
                    + MAX(epoch_us(ts))) // 2 FROM events)
                  THEN 'h1' ELSE 'h2' END AS half
      FROM events
    ), cnt AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN half = 'h1' THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(SUM(CASE WHEN half = 'h2' THEN 1 ELSE 0 END) AS BIGINT)
               AS nb
      FROM b GROUP BY event_type
    ), tot AS (
      SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
      FROM cnt
    )
    SELECT tot.ta AS n_first_half, tot.tb AS n_second_half,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST((1000000 * SUM(abs(cnt.na * tot.tb - cnt.nb * tot.ta)))
                // (2 * tot.ta * tot.tb) AS BIGINT) AS tv_ppm
    FROM cnt, tot
    GROUP BY tot.ta, tot.tb
    """,
    "Total-variation drift distance between the corpus' first and "
    "second time halves' event-type distributions — the "
    "distribution-shift number behind every training/serving skew "
    "monitor, computed without a single float probability: TV = "
    "(1/2) sum |p_i - q_i| becomes sum |na_i*Tb - nb_i*Ta| over "
    "2*Ta*Tb in exact integers (cross-multiplied proportions — the "
    "same trick the ER and kappa entries use). The midpoint split is "
    "derived from the data's own time span (scale-free); TV's "
    "[0, 1e6] range reads directly as 'what fraction of mass would "
    "have to move'. Complements drift_snapshot_stats (level drift) "
    "with DISTRIBUTION drift.",
)
def drift_tv_distance(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.expr("ts div 1000").alias("us")
    )
    mid = ev.agg(
        F.expr("CAST((MIN(us) + MAX(us)) div 2 AS BIGINT)").alias("mid")
    )
    b = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        F.when(F.col("us") <= F.col("mid"), "h1").otherwise("h2").alias(
            "half"
        ),
    )
    cnt = b.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == "h1", 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("half") == "h2", 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    tot = cnt.agg(
        F.sum("na").cast("long").alias("ta"),
        F.sum("nb").cast("long").alias("tb"),
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .agg(
            F.max("ta").cast("long").alias("n_first_half"),
            F.max("tb").cast("long").alias("n_second_half"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.expr(
                "CAST((1000000 * SUM(abs(na * tb - nb * ta))) "
                "div (2 * MAX(ta) * MAX(tb)) AS BIGINT)"
            ).alias("tv_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood ER blocking vs hash blocking
# ---------------------------------------------------------------------------

_SN_WINDOW = 5


@register(
    "er_sorted_neighborhood",
    f"""
    WITH c AS (
      SELECT c_custkey AS k, c_nationkey AS n, c_mktsegment AS seg,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    ), ranked AS (
      SELECT k, n, seg, bal,
             ROW_NUMBER() OVER (ORDER BY bal, k) AS rk
      FROM c
    ), cand AS (
      SELECT a.k AS a_key, b.k AS b_key,
             a.n = b.n AS same_block,
             CASE WHEN a.seg = b.seg THEN {_ER_W_SEG}
                  ELSE -{_ER_U_SEG} END
             + CASE WHEN (a.bal + {_ER_SHIFT_C}) // {_ER_BAND_C}
                       = (b.bal + {_ER_SHIFT_C}) // {_ER_BAND_C}
                    THEN {_ER_W_BAND} ELSE -{_ER_U_BAND} END
             + CASE WHEN abs(a.bal - b.bal) <= {_ER_CLOSE_C}
                    THEN {_ER_W_CLOSE} ELSE -{_ER_U_CLOSE} END AS score
      FROM ranked a JOIN ranked b
        ON b.rk > a.rk AND b.rk <= a.rk + {_SN_WINDOW - 1}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN score >= {_ER_THRESHOLD}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
           CAST(SUM(CASE WHEN score >= {_ER_THRESHOLD} AND same_block
                    THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matches_also_in_hash_block
    FROM cand
    """,
    "Sorted-neighborhood ER blocking (Hernandez & Stolfo 1995) — the "
    "OTHER classic blocking strategy, run against the same "
    "Fellegi-Sunter scorer as er_blocked_match_score: records sort by "
    "balance and only rank-window-of-5 neighbors become candidates "
    "(candidate count is linear in n by construction — the guarantee "
    "hash blocking cannot give when a block is skewed), then the "
    "summary counts how many matches the window recovers and how "
    "many of those the nation-hash blocking would ALSO have seen — "
    "the blocking-strategy comparison every ER deployment runs "
    "before choosing. The rank-band join is a theta join on "
    "consecutive ranks (window-shaped, never quadratic); at 100 TB "
    "the sort is a repartitionByRange and the band join is "
    "within-partition with boundary ghosts.",
)
def er_sorted_neighborhood(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("n"),
        F.col("c_mktsegment").alias("seg"),
        cents("c_acctbal").alias("bal"),
    )
    ranked = c.withColumn(
        "rk", F.row_number().over(W.orderBy("bal", "k"))
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    band = lambda side: F.expr(  # noqa: E731
        f"({side}.bal + {_ER_SHIFT_C}) div {_ER_BAND_C}"
    )
    cand = a.join(
        b,
        (F.col("b.rk") > F.col("a.rk"))
        & (F.col("b.rk") <= F.col("a.rk") + _SN_WINDOW - 1),
    ).select(
        (F.col("a.n") == F.col("b.n")).alias("same_block"),
        (
            F.when(F.col("a.seg") == F.col("b.seg"), _ER_W_SEG).otherwise(
                -_ER_U_SEG
            )
            + F.when(band("a") == band("b"), _ER_W_BAND).otherwise(
                -_ER_U_BAND
            )
            + F.when(
                F.abs(F.col("a.bal") - F.col("b.bal")) <= _ER_CLOSE_C,
                _ER_W_CLOSE,
            ).otherwise(-_ER_U_CLOSE)
        ).alias("score"),
    )
    return cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("score") >= _ER_THRESHOLD, 1).otherwise(0))
        .cast("long")
        .alias("n_matches"),
        F.sum(
            F.when(
                (F.col("score") >= _ER_THRESHOLD) & F.col("same_block"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_matches_also_in_hash_block"),
    )


# ---------------------------------------------------------------------------
# Dorfman pooled screening efficiency audit
# ---------------------------------------------------------------------------

_POOL_SIZE = 8


@register(
    "pooled_screening_dorfman",
    f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN len({_TOKS_SQL}) < {_ABL_MIN_TOK}
                  THEN 1 ELSE 0 END AS positive,
             {_H32_DUCK.format(s="CAST(doc_id AS VARCHAR)")}
               % ((SELECT COUNT(*) FROM documents) // {_POOL_SIZE})
               AS pool
      FROM documents
    ), pools AS (
      SELECT pool, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(MAX(positive) AS BIGINT) AS pool_positive
      FROM d GROUP BY pool
    )
    SELECT CAST(SUM(n_members) AS BIGINT) AS n_items,
           CAST(COUNT(*) AS BIGINT) AS n_pools,
           CAST(SUM(pool_positive) AS BIGINT) AS n_positive_pools,
           CAST(COUNT(*) + SUM(pool_positive * n_members) AS BIGINT)
             AS tests_pooled,
           CAST(SUM(n_members) AS BIGINT) AS tests_individual,
           CAST((1000000 * (COUNT(*) + SUM(pool_positive * n_members)))
                // SUM(n_members) AS BIGINT) AS cost_ratio_ppm
    FROM pools
    """,
    "Dorfman pooled screening (1943 — the group-testing scheme "
    "behind every batched expensive-check pipeline, from blood tests "
    "to LLM-judge batch calls): documents hash into pools of ~8, a "
    "pool 'tests positive' if ANY member fails the length screen, "
    "and only positive pools pay for member-by-member retesting — "
    "tests = pools + positives*size against one-test-per-item, with "
    "the cost ratio in ppm (below 1e6 = pooling pays; it flips past "
    "~30% prevalence, which is exactly the call this audit decides). "
    "One hash-pool aggregate; the MAX(positive) OR-fold is the "
    "pooled test. Deterministic pools (hash, not round-robin) so "
    "both engines replay identically.",
)
def pooled_screening_dorfman(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    n_docs = docs.count()  # dimension scalar for the pool modulus
    n_pools = max(1, n_docs // _POOL_SIZE)
    d = docs.select(
        "doc_id",
        F.when(F.size(_toks_a()) < _ABL_MIN_TOK, 1)
        .otherwise(0)
        .alias("positive"),
        (
            F.expr(_H32_SPARK.format(s="cast(doc_id as string)")) % n_pools
        ).alias("pool"),
    )
    pools = d.groupBy("pool").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("positive").cast("long").alias("pool_positive"),
    )
    return pools.agg(
        F.sum("n_members").cast("long").alias("n_items"),
        F.count(F.lit(1)).cast("long").alias("n_pools"),
        F.sum("pool_positive").cast("long").alias("n_positive_pools"),
        (
            F.count(F.lit(1))
            + F.sum(F.col("pool_positive") * F.col("n_members"))
        )
        .cast("long")
        .alias("tests_pooled"),
        F.sum("n_members").cast("long").alias("tests_individual"),
        F.expr(
            "CAST((1000000 * (COUNT(*) + SUM(pool_positive * n_members)))"
            " div SUM(n_members) AS BIGINT)"
        ).alias("cost_ratio_ppm"),
    )


# ---------------------------------------------------------------------------
# Static working-set cache hit-rate curve
# ---------------------------------------------------------------------------

_CACHE_SIZES = (8, 16, 32)
_CACHE_VALUES = ", ".join(f"({s})" for s in _CACHE_SIZES)


@register(
    "cache_static_hitrate_curve",
    f"""
    WITH acc AS (
      SELECT json_extract(props, '$.k') AS key FROM events
      WHERE json_extract(props, '$.k') IS NOT NULL
    ), freq AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS c,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, key) AS rk
      FROM acc GROUP BY key
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq),
    sz(cache_size) AS (VALUES {_CACHE_VALUES})
    SELECT CAST(sz.cache_size AS BIGINT) AS cache_size,
           CAST(SUM(CASE WHEN f.rk <= sz.cache_size THEN f.c ELSE 0 END)
                AS BIGINT) AS n_hits,
           tot.n AS n_accesses,
           CAST((1000000 * SUM(CASE WHEN f.rk <= sz.cache_size
                               THEN f.c ELSE 0 END)) // tot.n AS BIGINT)
             AS hit_ppm
    FROM freq f CROSS JOIN sz, tot
    GROUP BY sz.cache_size, tot.n
    """,
    "Static working-set cache curve: for cache sizes 8/16/32, the "
    "share of event accesses (by the props.k key) that hit a cache "
    "holding the top-k most frequent keys — the UPPER BOUND any "
    "static cache policy can reach, and the first number a cache-"
    "sizing decision reads (a dynamic LRU simulation is a sequential "
    "fold; the static bound is one aggregate and usually answers the "
    "question). Frequency ties break by key so the curve is a pure "
    "function of the data; the 3-row size spine collapses map-side. "
    "Reads the key from the JSON props column (the f_json family's "
    "extraction path) — a real access log's cache key is always "
    "buried in a payload.",
)
def cache_static_hitrate_curve(spark, sf_dir):
    acc = (
        t(spark, sf_dir, "events")
        .select(F.get_json_object("props", "$.k").alias("key"))
        .where(F.col("key").isNotNull())
    )
    freq = (
        acc.groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc("c"), F.asc("key")))
        )
    )
    tot = freq.agg(F.sum("c").cast("long").alias("n"))
    sz = spark.createDataFrame(
        [(s,) for s in _CACHE_SIZES], "cache_size long"
    )
    return (
        freq.crossJoin(F.broadcast(sz))
        .crossJoin(F.broadcast(tot))
        .groupBy("cache_size", "n")
        .agg(
            F.sum(
                F.when(F.col("rk") <= F.col("cache_size"), F.col("c"))
                .otherwise(0)
            )
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "cache_size",
            "n_hits",
            F.col("n").alias("n_accesses"),
            F.expr("CAST((1000000 * n_hits) div n AS BIGINT)").alias(
                "hit_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Optimal-stopping (secretary rule) audit
# ---------------------------------------------------------------------------

_OS_CAP = 12
_OS_CUTOFF = 4  # ~ n/e for n = 12


@register(
    "optimal_stopping_audit",
    f"""
    WITH w AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_ns(ts), event_id) AS rn
      FROM events
    ), cap AS (
      SELECT user_id, v, rn FROM w WHERE rn <= {_OS_CAP}
    ), stats AS (
      SELECT user_id, v, rn,
             MAX(v) OVER (PARTITION BY user_id
                          ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS best_before,
             MAX(v) OVER (PARTITION BY user_id) AS true_best,
             MAX(CASE WHEN rn <= {_OS_CUTOFF} THEN v END)
               OVER (PARTITION BY user_id) AS sample_best,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM cap
    ), picks AS (
      SELECT user_id, v AS picked, true_best, n,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS prn
      FROM stats
      WHERE rn > {_OS_CUTOFF} AND v > COALESCE(sample_best, -1)
        AND (best_before IS NULL OR v > best_before)
    ), chosen AS (
      SELECT s.user_id, MAX(s.n) AS n, MAX(s.true_best) AS true_best,
             MAX(p.picked) AS picked
      FROM stats s LEFT JOIN picks p
        ON p.user_id = s.user_id AND p.prn = 1
      GROUP BY s.user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_candidates,
           CAST(COALESCE(picked,
                (SELECT MAX(c2.v) FROM cap c2
                 WHERE c2.user_id = chosen.user_id
                   AND c2.rn = chosen.n)) AS BIGINT) AS picked_c,
           CAST(true_best AS BIGINT) AS best_c,
           CAST(CASE WHEN COALESCE(picked,
                (SELECT MAX(c2.v) FROM cap c2
                 WHERE c2.user_id = chosen.user_id
                   AND c2.rn = chosen.n)) = true_best
                THEN 1 ELSE 0 END AS BIGINT) AS got_best
    FROM chosen
    """,
    "Optimal stopping (the secretary 1/e rule) audited per user: "
    "observe the first 4 of up to 12 time-ordered values without "
    "committing, then take the FIRST later value beating everything "
    "seen so far; if none ever does, the last candidate is forced — "
    "the irrevocable-choice discipline behind early-stopping "
    "hyperparameter triage and streaming best-candidate selection, "
    "replayed deterministically (no RNG: the event order IS the "
    "arrival order). Everything is running-max windows: best-before "
    "prefix max, sample-phase max, first qualifying pick by rank — "
    "no fold, no driver loop. got_best against the true max reads "
    "off the rule's empirical success rate (~37% is the theoretical "
    "optimum under random arrivals).",
)
def optimal_stopping_audit(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    w = t(spark, sf_dir, "events").select(
        "user_id",
        cents("value").alias("v"),
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    cap = w.where(F.col("rn") <= _OS_CAP)
    wp = W.partitionBy("user_id")
    wo = W.partitionBy("user_id").orderBy("rn")
    stats = cap.select(
        "user_id",
        "v",
        "rn",
        F.max("v").over(wo.rowsBetween(W.unboundedPreceding, -1)).alias(
            "best_before"
        ),
        F.max("v").over(wp).alias("true_best"),
        F.max(F.when(F.col("rn") <= _OS_CUTOFF, F.col("v"))).over(wp).alias(
            "sample_best"
        ),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    picks = (
        stats.where(
            (F.col("rn") > _OS_CUTOFF)
            & (F.col("v") > F.coalesce("sample_best", F.lit(-1)))
            & (
                F.col("best_before").isNull()
                | (F.col("v") > F.col("best_before"))
            )
        )
        .withColumn("prn", F.row_number().over(wo))
        .where(F.col("prn") == 1)
        .select(
            F.col("user_id").alias("pu"), F.col("v").alias("picked")
        )
    )
    last = cap.withColumn(
        "lrn", F.row_number().over(W.partitionBy("user_id").orderBy(F.desc("rn")))
    ).where(F.col("lrn") == 1).select(
        F.col("user_id").alias("lu"), F.col("v").alias("last_v")
    )
    per_user = stats.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_candidates"),
        F.max("true_best").cast("long").alias("best_c"),
    )
    return (
        per_user.join(picks, per_user["user_id"] == picks["pu"], "left")
        .join(last, per_user["user_id"] == last["lu"])
        .select(
            "user_id",
            "n_candidates",
            F.coalesce("picked", "last_v").cast("long").alias("picked_c"),
            "best_c",
            F.when(
                F.coalesce("picked", "last_v") == F.col("best_c"), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("got_best"),
        )
    )


# ---------------------------------------------------------------------------
# Simpson's paradox audit: pooled vs per-group trend signs
# ---------------------------------------------------------------------------


@register(
    "simpson_paradox_audit",
    """
    WITH d AS (
      SELECT event_type AS grp,
             epoch_us(ts) // 86400000000
               - (SELECT MIN(epoch_us(ts) // 86400000000) FROM events)
               AS x,
             CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events
    ), per_group AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT)
               AS cov_num
      FROM d GROUP BY grp
    ), pooled AS (
      SELECT CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT)
               AS cov_num
      FROM d
    )
    SELECT g.grp, g.n,
           CAST(CASE WHEN g.cov_num > 0 THEN 1
                     WHEN g.cov_num < 0 THEN -1 ELSE 0 END AS BIGINT)
             AS group_trend_sign,
           CAST(CASE WHEN p.cov_num > 0 THEN 1
                     WHEN p.cov_num < 0 THEN -1 ELSE 0 END AS BIGINT)
             AS pooled_trend_sign,
           CAST(CASE WHEN (g.cov_num > 0) <> (p.cov_num > 0)
                      AND g.cov_num <> 0 AND p.cov_num <> 0
                THEN 1 ELSE 0 END AS BIGINT) AS sign_reversed
    FROM per_group g, pooled p
    """,
    "Simpson's-paradox audit: the SIGN of the value-over-day trend "
    "per event type against the pooled sign, via exact integer "
    "covariance numerators (n*sum(xy) - sum(x)*sum(y) — day indices "
    "are span-relative so the products stay far inside int64, and "
    "sign comparison needs no division at all). A reversal row "
    "(group trend up while pooled is down, or vice versa) is the "
    "aggregation trap every cohort metric review must check before "
    "reading a pooled trend — the diagnosis is dimension-sized: one "
    "moment aggregate per group + one pooled, signs joined.",
)
def simpson_paradox_audit(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    base = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.expr("(ts div 1000) div 86400000000").alias("day"),
        cents("value").alias("y"),
    )
    d0 = base.agg(F.min("day").alias("d0"))
    d = base.crossJoin(F.broadcast(d0)).select(
        "grp", (F.col("day") - F.col("d0")).alias("x"), "y"
    )
    per_group = d.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
            - F.sum("x") * F.sum("y")
        )
        .cast("long")
        .alias("cov_num"),
    )
    pooled = d.agg(
        (
            F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
            - F.sum("x") * F.sum("y")
        )
        .cast("long")
        .alias("p_cov")
    )
    sign = lambda c: (  # noqa: E731
        F.when(F.col(c) > 0, 1).when(F.col(c) < 0, -1).otherwise(0)
    )
    return (
        per_group.crossJoin(F.broadcast(pooled))
        .select(
            "grp",
            "n",
            sign("cov_num").cast("long").alias("group_trend_sign"),
            sign("p_cov").cast("long").alias("pooled_trend_sign"),
            F.when(
                ((F.col("cov_num") > 0) != (F.col("p_cov") > 0))
                & (F.col("cov_num") != 0)
                & (F.col("p_cov") != 0),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("sign_reversed"),
        )
    )


# ---------------------------------------------------------------------------
# Recency-decayed value sums via integer halving
# ---------------------------------------------------------------------------

_DECAY_HALFLIFE_DAYS = 7


@register(
    "decayed_value_sum",
    f"""
    WITH d AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS c,
             ((SELECT MAX(epoch_us(ts) // 86400000000) FROM events)
              - epoch_us(ts) // 86400000000) AS age_days
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(c) AS BIGINT) AS raw_sum_c,
           CAST(SUM(c >> CAST(LEAST(age_days // {_DECAY_HALFLIFE_DAYS}, 62)
                              AS INT)) AS BIGINT) AS decayed_sum_c
    FROM d GROUP BY user_id
    """,
    "Recency-decayed engagement sums with INTEGER half-life decay: "
    "each cent value is right-shifted once per elapsed 7-day "
    "half-life (v >> (age/7) IS v * 2^-k — the exponential-decay "
    "weighting of every recency-biased engagement score, with the "
    "float pow() replaced by a bit shift both engines evaluate "
    "identically; shift clamped at 62 so ancient events contribute "
    "0, never wrap). Age anchors to the corpus max day (pure "
    "function of the data). The algebraic-aggregate counterpart to "
    "ewma_user_value's order-dependent fold: this decay DOES "
    "distribute, so it needs no Arrow kernel — one hash aggregate, "
    "map-side combine, done; choosing between the two forms is "
    "exactly the distributivity question the engine's fold doctrine "
    "documents.",
)
def decayed_value_sum(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    base = t(spark, sf_dir, "events").select(
        "user_id",
        cents("value").alias("c"),
        F.expr("(ts div 1000) div 86400000000").alias("day"),
    )
    mx = base.agg(F.max("day").alias("mx"))
    d = base.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "c",
        (F.col("mx") - F.col("day")).alias("age_days"),
    )
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("c").cast("long").alias("raw_sum_c"),
        F.sum(
            F.expr(
                f"shiftright(c, CAST(LEAST(age_days div "
                f"{_DECAY_HALFLIFE_DAYS}, 62) AS INT))"
            )
        )
        .cast("long")
        .alias("decayed_sum_c"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival time percentiles per event type
# ---------------------------------------------------------------------------


@register(
    "interarrival_percentiles",
    """
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY epoch_us(ts), event_id
             ) AS gap_us
      FROM events
    ), g AS (
      SELECT event_type, gap_us,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY gap_us, gap_us) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM gaps WHERE gap_us IS NOT NULL
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN gap_us END)
                AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END)
                AS BIGINT) AS p90_us,
           CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN gap_us END)
                AS BIGINT) AS p99_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_us
    FROM g GROUP BY event_type
    """,
    "Inter-arrival time percentiles per event type (exact order "
    "statistics at ceil-rank positions — the p50/p90/p99/max every "
    "capacity plan and timeout budget reads off an arrival process): "
    "one LAG window per type over the time-ordered stream, then one "
    "rank window over the GAP table. The arrival-process companion "
    "to sessionize (which thresholds these gaps) and "
    "late_event_audit (which delays them); reading all three is how "
    "a streaming deployment picks its session gap and watermark in "
    "one sitting.",
)
def interarrival_percentiles(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.expr("ts div 1000").alias("us"), "event_id"
    )
    wt = W.partitionBy("event_type").orderBy("us", "event_id")
    gaps = ev.select(
        "event_type",
        (F.col("us") - F.lag("us").over(wt)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    wr = W.partitionBy("event_type").orderBy("gap_us")
    g = gaps.select(
        "event_type",
        "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    )
    return g.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("gap_us"))
        )
        .cast("long")
        .alias("p50_us"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("gap_us")
            )
        )
        .cast("long")
        .alias("p90_us"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(99 * n + 99) div 100"),
                F.col("gap_us"),
            )
        )
        .cast("long")
        .alias("p99_us"),
        F.max("gap_us").cast("long").alias("max_us"),
    )


# ---------------------------------------------------------------------------
# Leave-one-cohort-out metric sensitivity (jackknife influence)
# ---------------------------------------------------------------------------

_JK_COHORTS = 10


@register(
    "metric_jackknife_cohorts",
    f"""
    WITH d AS (
      SELECT user_id % {_JK_COHORTS} AS cohort,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events
    ), per AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s
      FROM d GROUP BY cohort
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(s) AS BIGINT) AS ts
      FROM per
    )
    SELECT per.cohort, per.n AS cohort_events,
           CAST((100 * tot.ts) // tot.tn AS BIGINT) AS overall_mean_c,
           CAST((100 * (tot.ts - per.s)) // (tot.tn - per.n) AS BIGINT)
             AS loo_mean_c,
           CAST((100 * (tot.ts - per.s)) // (tot.tn - per.n)
                - (100 * tot.ts) // tot.tn AS BIGINT) AS influence_c
    FROM per, tot
    """,
    "Leave-one-cohort-out sensitivity of the mean event value — the "
    "jackknife influence read that tells you whether a headline "
    "metric is carried by one user cohort (drop each of the 10 "
    "user-mod cohorts, recompute the mean from the COMPLEMENT totals "
    "— no second scan, pure subtraction on the per-cohort "
    "aggregates): a large |influence| row is the cohort whose outage "
    "or exclusion would move the metric, the robustness check run "
    "before anyone ships a topline number. Mean reported in "
    "hundredth-cents ((100*sum) div n) so the integer division "
    "keeps two digits past the cent, identical in both engines.",
)
def metric_jackknife_cohorts(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    d = t(spark, sf_dir, "events").select(
        (F.col("user_id") % _JK_COHORTS).alias("cohort"),
        cents("value").alias("c"),
    )
    per = d.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("s").cast("long").alias("ts"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "cohort",
        F.col("n").alias("cohort_events"),
        F.expr("CAST((100 * ts) div tn AS BIGINT)").alias("overall_mean_c"),
        F.expr(
            "CAST((100 * (ts - s)) div (tn - n) AS BIGINT)"
        ).alias("loo_mean_c"),
        F.expr(
            "CAST((100 * (ts - s)) div (tn - n) - (100 * ts) div tn "
            "AS BIGINT)"
        ).alias("influence_c"),
    )


# ---------------------------------------------------------------------------
# Funnel time-to-convert percentiles
# ---------------------------------------------------------------------------


@register(
    "funnel_time_to_convert",
    """
    WITH fv AS (
      SELECT user_id, MIN(epoch_us(ts)) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), fp AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS first_purchase
      FROM events e JOIN fv ON fv.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > fv.first_view
      GROUP BY e.user_id
    ), dur AS (
      SELECT fp.user_id,
             fp.first_purchase - fv.first_view AS d_us,
             ROW_NUMBER() OVER (ORDER BY fp.first_purchase - fv.first_view,
                                fp.user_id) AS rn,
             COUNT(*) OVER () AS n
      FROM fp JOIN fv ON fv.user_id = fp.user_id
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST((SELECT COUNT(*) FROM fv) AS BIGINT) AS n_entered,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN d_us END) AS BIGINT)
             AS p50_us,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN d_us END)
                AS BIGINT) AS p90_us,
           CAST(MAX(d_us) AS BIGINT) AS max_us
    FROM dur
    """,
    "Funnel time-to-convert: for every user whose first purchase "
    "STRICTLY FOLLOWS their first view, the conversion latency's "
    "exact p50/p90/max (ceil-rank order statistics) next to the "
    "entered/converted counts — the DURATION companion to "
    "funnel_view_click_purchase's conversion counts, and the number "
    "a re-marketing window is actually set from. Strict ordering "
    "(purchase after view, not merely same user) is the semantics "
    "attribution requires; two per-user MIN aggregates + one global "
    "rank over the CONVERTED-user table (converted users, not "
    "events, bound the window).",
)
def funnel_time_to_convert(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("us")
    )
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("first_view"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .where(F.col("us") > F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("us").alias("first_purchase"))
    )
    dur = fp.select(
        "user_id",
        (F.col("first_purchase") - F.col("first_view")).alias("d_us"),
    )
    wr = W.orderBy("d_us", "user_id")
    ranked = dur.select(
        "d_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    entered = fv.agg(F.count(F.lit(1)).cast("long").alias("n_entered"))
    return (
        ranked.agg(
            F.max("n").cast("long").alias("n_converted"),
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("d_us"))
            )
            .cast("long")
            .alias("p50_us"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("d_us")
                )
            )
            .cast("long")
            .alias("p90_us"),
            F.max("d_us").cast("long").alias("max_us"),
        )
        .crossJoin(F.broadcast(entered))
        .select("n_converted", "n_entered", "p50_us", "p90_us", "max_us")
    )


# ---------------------------------------------------------------------------
# Luhn checksum validation audit
# ---------------------------------------------------------------------------


def _luhn_sql(base: str, engine: str) -> tuple[str, str]:
    """(check_digit_expr, id_expr) for a 7-digit base number: Luhn
    doubles every second digit from the right (positions 1,3,5,7 of the
    7-digit base when the check digit sits at position 0), caps with
    digit-sum (2d -> 2d - 9 when 2d > 9). Pure integer column math,
    identical strings valid in Spark SQL and DuckDB."""
    div = "div" if engine == "spark" else "//"
    digs = [f"(({base}) {div} {10 ** i}) % 10" for i in range(7)]
    # from the right of the FULL id (check digit at 10^0), base digit i
    # sits at position i+1 -> doubled when (i+1) is odd -> i even
    terms = []
    for i, d in enumerate(digs):
        if i % 2 == 0:
            terms.append(f"(CASE WHEN 2 * ({d}) > 9 THEN 2 * ({d}) - 9 "
                         f"ELSE 2 * ({d}) END)")
        else:
            terms.append(f"({d})")
    s = " + ".join(terms)
    check = f"((10 - (({s}) % 10)) % 10)"
    full_id = f"(({base}) * 10 + {check})"
    return check, full_id


@register(
    "dq_luhn_checksum",
    f"""
    WITH base AS (
      SELECT event_id, (event_id * 7919 + 12345) % 10000000 AS b,
             event_id % 97 = 0 AS corrupted
      FROM events
    ), ids AS (
      SELECT event_id, corrupted,
             CASE WHEN corrupted
                  THEN ({_luhn_sql('b', 'duck')[1]} + 1) % 100000000
                  ELSE {_luhn_sql('b', 'duck')[1]} END AS card_id
      FROM base
    ), checked AS (
      SELECT event_id, corrupted, card_id,
             {_luhn_sql('card_id // 10', 'duck')[0]}
               = card_id % 10 AS luhn_valid
      FROM ids
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(SUM(CASE WHEN corrupted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupted,
           CAST(SUM(CASE WHEN luhn_valid THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid,
           CAST(SUM(CASE WHEN corrupted AND luhn_valid
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_missed
    FROM checked
    """,
    "Luhn checksum validation audit (ISO/IEC 7812 — the mod-10 "
    "check behind card numbers, IMEIs and national ids): synthetic "
    "8-digit identifiers carry a genuine Luhn check digit, a "
    "deterministic 1-in-97 subset is corrupted by a single-digit "
    "increment, and the audit counts how many corruptions the "
    "checksum catches — by construction a +1 on the check digit "
    "ALWAYS fails validation, so n_missed = 0 (pinned by test; "
    "single-digit errors are exactly what Luhn guarantees to "
    "detect). The double-and-cap digit arithmetic is generated once "
    "and emitted for BOTH engines — pure integer column math, no "
    "UDF, one scan. The id-integrity companion to "
    "dq_sequence_audit's completeness check.",
)
def dq_luhn_checksum(spark, sf_dir):
    check_b, full_b = _luhn_sql("b", "spark")
    check_v, _ = _luhn_sql("card_id div 10", "spark")
    base = t(spark, sf_dir, "events").select(
        "event_id",
        F.expr("(event_id * 7919 + 12345) % 10000000").alias("b"),
        (F.col("event_id") % 97 == 0).alias("corrupted"),
    )
    ids = base.select(
        "event_id",
        "corrupted",
        F.expr(
            f"CASE WHEN corrupted THEN ({full_b} + 1) % 100000000 "
            f"ELSE {full_b} END"
        ).alias("card_id"),
    )
    checked = ids.select(
        "corrupted",
        F.expr(f"{check_v} = card_id % 10").alias("luhn_valid"),
    )
    return checked.agg(
        F.count(F.lit(1)).cast("long").alias("n_ids"),
        F.sum(F.when(F.col("corrupted"), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupted"),
        F.sum(F.when(F.col("luhn_valid"), 1).otherwise(0))
        .cast("long")
        .alias("n_valid"),
        F.sum(
            F.when(F.col("corrupted") & F.col("luhn_valid"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_missed"),
    )


# ---------------------------------------------------------------------------
# Session max-concurrency via sweep line
# ---------------------------------------------------------------------------

_SC_GAP_US = 1800000000  # 30-minute session gap


@register(
    "session_max_concurrency",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                       > {_SC_GAP_US}
                   OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events WINDOW w AS (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, MIN(us) AS s_start, MAX(us) AS s_end
      FROM (
        SELECT user_id, us,
               SUM(is_start) OVER (PARTITION BY user_id
                                   ORDER BY us
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM e
      ) GROUP BY user_id, sid
    ), bounds AS (
      -- end is EXCLUSIVE at s_end + 1us: a session ending exactly when
      -- another starts does not overlap it (deterministic tie rule:
      -- -1 deltas sort before +1 at the same instant)
      SELECT s_start AS at_us, 1 AS delta FROM sess
      UNION ALL
      SELECT s_end + 1, -1 FROM sess
    ), sweep AS (
      SELECT at_us,
             SUM(delta) OVER (ORDER BY at_us, delta
                              ROWS UNBOUNDED PRECEDING) AS live
      FROM bounds
    )
    SELECT CAST((SELECT COUNT(*) FROM sess) AS BIGINT) AS n_sessions,
           CAST(MAX(live) AS BIGINT) AS max_concurrent,
           CAST((SELECT COUNT(DISTINCT user_id) FROM sess) AS BIGINT)
             AS n_users
    FROM sweep
    """,
    "Peak session concurrency via the classic sweep line: sessions "
    "come from the 30-minute-gap rule (the sessionize semantics), "
    "each contributes +1 at its start and -1 just past its end "
    "(exclusive end with a deterministic -1-before-+1 tie order, so "
    "back-to-back sessions never double-count), and the running sum's "
    "maximum IS the peak simultaneous load — the number capacity "
    "planning and license sizing actually need, which no windowed "
    "count approximates exactly (a session spans many windows). One "
    "keyed session build + one global boundary sort of 2 rows per "
    "SESSION (not per event) — the sweep input is session-bounded at "
    "any event volume.",
)
def session_max_concurrency(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("us"), "event_id"
    )
    wu = W.partitionBy("user_id").orderBy("us", "event_id")
    e = ev.withColumn(
        "is_start",
        F.when(
            (F.col("us") - F.lag("us").over(wu) > _SC_GAP_US)
            | F.lag("us").over(wu).isNull(),
            1,
        ).otherwise(0),
    )
    sess = (
        e.withColumn(
            "sid",
            F.sum("is_start").over(
                W.partitionBy("user_id")
                .orderBy("us")
                .rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("s_start"), F.max("us").alias("s_end"))
    )
    bounds = sess.select(
        F.col("s_start").alias("at_us"), F.lit(1).alias("delta")
    ).unionAll(
        sess.select((F.col("s_end") + 1).alias("at_us"), F.lit(-1))
    )
    ws = W.orderBy("at_us", "delta").rowsBetween(W.unboundedPreceding, 0)
    sweep = bounds.select(F.sum("delta").over(ws).alias("live"))
    n_sessions = sess.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    n_users = sess.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    return (
        sweep.agg(F.max("live").cast("long").alias("max_concurrent"))
        .crossJoin(F.broadcast(n_sessions))
        .crossJoin(F.broadcast(n_users))
        .select("n_sessions", "max_concurrent", "n_users")
    )


# ---------------------------------------------------------------------------
# Deterministic integer Lloyd's k-means (fixed rounds, exact oracle)
# ---------------------------------------------------------------------------

_KM_K = 8        # clusters (seeded from the first K vectors by id)
_KM_ROUNDS = 4   # fixed Lloyd iterations (pure function of the data)
_KM_MILLI = 1000 # centroid fixed-point scale (milli-units of qv)


def _lloyd_rounds_sql() -> str:
    """Shared unrolled-Lloyd round fragments (CTE names x / cent{r}),
    all-integer: distances in milli-units squared, centroid updates as
    truncating integer division (Spark `div` == DuckDB `//`, both
    toward zero), empty clusters keep their previous centroid via the
    LEFT JOIN. Used by the kmeans_lloyd_integer oracle (whole table)
    and the sim_ivf_topk oracle (corpus subset) — the source only
    changes what the `x` CTE selects."""
    rounds = []
    for r in range(1, _KM_ROUNDS + 1):
        rounds.append(f"""
    d{r} AS MATERIALIZED (
      SELECT x.vec_id, c.cid,
             SUM((x.xm - c.c) * (x.xm - c.c)) AS d2
      FROM x JOIN cent{r - 1} c ON x.pos = c.pos
      GROUP BY 1, 2
    ),
    a{r} AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM d{r}
      ) WHERE rn = 1
    ),
    u{r} AS MATERIALIZED (
      SELECT a.cid, x.pos,
             ({_KM_MILLI} * SUM(x.xu)) // COUNT(*) AS uc
      FROM a{r} a JOIN x ON x.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    cent{r} AS MATERIALIZED (
      SELECT p.cid, p.pos, COALESCE(u.uc, p.c) AS c
      FROM cent{r - 1} p
      LEFT JOIN u{r} u ON u.cid = p.cid AND u.pos = p.pos
    )""")
    return ",".join(rounds)


def _kmeans_oracle() -> str:
    """Unrolled replay of _KM_ROUNDS Lloyd iterations over the whole
    embeddings table — see _lloyd_rounds_sql for the arithmetic."""
    R = _KM_ROUNDS
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id, {_QV_SQL} AS qv FROM embeddings
    ), x AS MATERIALIZED (
      SELECT vec_id, i AS pos, qv[i] AS xu, qv[i] * {_KM_MILLI} AS xm
      FROM q, range(1, 65) t(i)
    ), seeds AS MATERIALIZED (
      SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {_KM_K}
    ), cent0 AS MATERIALIZED (
      SELECT vec_id AS cid, i AS pos, qv[i] * {_KM_MILLI} AS c
      FROM seeds, range(1, 65) t(i)
    ),
    {_lloyd_rounds_sql()},
    final_d AS (
      SELECT a.vec_id, a.cid, d.d2
      FROM a{R} a JOIN d{R} d ON d.vec_id = a.vec_id AND d.cid = a.cid
    ), sizes AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(d2 // 1000000) AS BIGINT) AS inertia_m
      FROM final_d GROUP BY cid
    ), l1 AS (
      SELECT cid, CAST(SUM(ABS(c)) AS BIGINT) AS centroid_l1
      FROM cent{R} GROUP BY cid
    )
    SELECT s.cid, s.n_members, s.inertia_m, l1.centroid_l1
    FROM sizes s JOIN l1 ON l1.cid = s.cid
    """


@register(
    "kmeans_lloyd_integer",
    _kmeans_oracle(),
    "Deterministic distributed Lloyd's k-means under the EXACT gate — "
    "the oracle-backed answer to sim_ivf_topk's documented caveat "
    "(KMeans|| initialization samples per partition, so MLlib cells "
    "shift with physical layout; this build is a pure function of the "
    "data): centers seed from the first 8 vectors by id, 4 FIXED Lloyd "
    "rounds (the pagerank/kcore fixed-budget doctrine, unrolled "
    "MATERIALIZED-CTE replay), ALL-INTEGER arithmetic — squared L2 in "
    "milli-unit fixed point, centroid updates as truncating integer "
    "division (Spark div == DuckDB //), ties to the smaller center id, "
    "empty clusters keep their previous centroid. Output per cluster: "
    "size, truncated-sum inertia, centroid L1 mass. Scale shape per "
    "round: one 512-row broadcast hash join onto the exploded "
    "(vec, dim) frame + two hash aggregates — the exact shape MLlib "
    "KMeans runs, minus the layout-dependent init; lineage cut per "
    "round via localCheckpoint.",
)
def kmeans_lloyd_integer(spark, sf_dir):
    q = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QV_SPARK).alias("qv")
    )
    cent_arr, assign = _lloyd_fit(q, _KM_K)
    sizes = assign.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.expr("d2 div 1000000")).cast("long").alias("inertia_m"),
    )
    l1 = cent_arr.select(
        "cid",
        F.expr(
            "CAST(aggregate(carr, 0L, (acc, v) -> acc + abs(v)) AS BIGINT)"
        ).alias("centroid_l1"),
    )
    return sizes.join(l1, "cid").select(
        "cid", "n_members", "inertia_m", "centroid_l1"
    )


def _lloyd_explode(q):
    """(vec_id, qv) -> exploded (vec_id, pos, xu, xm) milli frame."""
    return q.select("vec_id", F.posexplode("qv").alias("pos0", "xu")).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        "xu",
        (F.col("xu") * _KM_MILLI).alias("xm"),
    )


def _lloyd_assign_arrow(tbl, n_keep: int):
    """Salt-group assignment kernel (round 10): exact integer milli-L2
    of every vector to every centroid via ONE BLAS matmul per group —
    d2 = ||x||² - 2x·c + ||c||² (_exact_sq_l2), all int64-exact (cross
    products are <= 64 * (10^7)² = 6.4e15, under the 2^53 matmul
    precondition; d2 itself tops out ~2.6e16, well inside int64).
    Emits each vector's top-``n_keep`` centroids by (d2 ASC, cid ASC).

    Replaces the per-round exploded-frame join + 101M-row partial hash
    aggregate + ranking window (measured 8-10 s PER ROUND at the 10x
    replica with 79 corpus-relative cells — the aggregate's multi-
    million-entry hash tables dominated); identical values by exact
    integer arithmetic, so the unrolled-CTE oracle is untouched."""
    import numpy as np
    import pyarrow as pa

    split = _split_group(tbl, "is_cent", vecs="arr")
    if split is None:
        return pa.table({})
    cids, C, pids, P = split
    D2 = _exact_sq_l2(P, C)
    # top-n_keep by (d2 ASC, cid ASC) == (-d2 DESC, cid ASC)
    cols = _rowwise_topk(-D2, cids, n_keep)
    k = cols.shape[1]
    return pa.table(
        {
            "vec_id": np.repeat(pids, k),
            "cid": cids[cols.ravel()],
            "d2": np.take_along_axis(D2, cols, axis=1).ravel(),
            "cell_rank": np.tile(np.arange(1, k + 1, dtype=np.int64), len(pids)),
        }
    )


def _lloyd_assign(vecs, cent_arr, n_keep: int):
    """(vec_id, cid, d2, cell_rank) of each vecs row's ``n_keep``
    nearest centroids — the salt-group kernel plan: vectors hash into
    defaultParallelism groups (pmod — negative ids stay seeded),
    centroid arrays replicate once per group via a bounded broadcast
    spine, one BLAS kernel per group. ``vecs``: (vec_id, arr) milli
    frame; ``cent_arr``: (cid, carr) milli centroid arrays."""
    spark = vecs.sparkSession
    n_salts = spark.sparkContext.defaultParallelism
    probers = vecs.select(
        F.pmod(F.col("vec_id"), F.lit(n_salts)).cast("int").alias("g"),
        "vec_id",
        "arr",
        F.lit(False).alias("is_cent"),
    )
    # generator replication, no join (a broadcast crossJoin spine
    # would plan as BroadcastNestedLoopJoin — banned by the plan gates)
    cents_rep = cent_arr.select(
        # sequence of int literals -> array<int>, so the exploded g is
        # already int32 (matching the probers' pmod cast)
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("g"),
        F.col("cid").alias("vec_id"),
        F.col("carr").alias("arr"),
        F.lit(True).alias("is_cent"),
    )
    return (
        probers.unionByName(cents_rep)
        .groupBy("g")
        .applyInArrow(
            lambda t_: _lloyd_assign_arrow(t_, n_keep),
            schema="vec_id long, cid long, d2 long, cell_rank long",
        )
    )


def _lloyd_cent_to_arr(cent):
    """(cid, pos, c) exploded centroid frame -> (cid, carr) arrays in
    pos order (deterministic array_sort on the (pos, c) struct)."""
    return cent.groupBy("cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, c))),"
            " s -> s.c)"
        ).alias("carr")
    )


def _lloyd_fit(q, k: int):
    """_KM_ROUNDS fixed integer Lloyd iterations (the unrolled-CTE
    oracle _lloyd_rounds_sql replays this bit-for-bit). Returns the
    final (cent_arr, assign) where ``cent_arr`` is the (cid, carr)
    milli centroid arrays after the last update and ``assign`` is the
    last round's (vec_id, cid, d2, cell_rank=1) nearest-centroid frame
    (computed BEFORE that update, matching the oracle's a{R}/d{R}).

    Round 10: per-round assignment runs in the salt-group BLAS kernel
    (_lloyd_assign — exact int64, values identical to the old exploded
    join + hash aggregate + window, which measured 8-10 s/round at 79
    corpus-relative cells); centroid updates stay DataFrame-side (the
    exploded join is n x dim rows against a bounded assign frame).
    Lineage cut per round; empty clusters keep their previous centroid
    via the LEFT JOIN + coalesce."""
    vecs = q.select(
        "vec_id",
        F.expr(f"transform(qv, v -> v * {_KM_MILLI})").alias("arr"),
    ).localCheckpoint(eager=False)
    x = _lloyd_explode(q).localCheckpoint(eager=False)
    cent_arr = (
        q.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cid"),
            F.expr(f"transform(qv, v -> v * {_KM_MILLI})").alias("carr"),
        )
    )
    assign = None
    for _ in range(_KM_ROUNDS):
        assign = _lloyd_assign(vecs, cent_arr, 1).localCheckpoint(
            eager=False
        )
        upd = (
            assign.select("vec_id", "cid")
            .join(x, "vec_id")
            .groupBy("cid", "pos")
            .agg(
                F.expr(
                    f"CAST(({_KM_MILLI} * SUM(xu)) div COUNT(*) AS BIGINT)"
                ).alias("uc")
            )
        )
        cent = (
            cent_arr.select(
                "cid", F.posexplode("carr").alias("pos0", "c")
            )
            .select("cid", (F.col("pos0") + 1).alias("pos"), "c")
            .join(upd, ["cid", "pos"], "left")
            .select("cid", "pos", F.coalesce("uc", "c").alias("c"))
        )
        cent_arr = _lloyd_cent_to_arr(cent).localCheckpoint(eager=False)
    return cent_arr, assign


# ---------------------------------------------------------------------------
# IVF ANN on deterministic integer-Lloyd cells (oracle-backed end-to-end)
# ---------------------------------------------------------------------------

_IVF_PROBE = 3  # cells probed per query
_IVF_K = 3      # neighbors returned per query


def _ivf_lloyd_oracle(k: int = _IVF_K) -> str:
    """Full-pipeline replay of sim_ivf_topk: the corpus-side Lloyd fit
    (shared _lloyd_rounds_sql fragments), nearest-cell assignment from
    the final round, integer-L2 query probing against the final
    centroids, candidate union over probed cells, exact cosine re-rank
    — the oracle replays which candidates were pruned, not just the
    final ranking (same doctrine as _ivf_pivot_oracle). Round 10: the
    cell count and probe count replay operators.similarity.ivf_knobs
    from COUNT(*) (nc CTE — corpus-relative, floors reproduce the old
    fixed (8, 3) at every gate SF)."""
    from youtube_trending_data_pipeline_spark.catalog_ext import (
        _COS_SQL,
        _ivf_knob_cte,
    )

    R = _KM_ROUNDS
    rr = _COS_SQL.format(a="qr.embedding", b="co.embedding")
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id, {_QV_SQL} AS qv, embedding
      FROM embeddings WHERE vec_id >= 5
    ), nc AS MATERIALIZED (
      {_ivf_knob_cte("q")}
    ), x AS MATERIALIZED (
      SELECT vec_id, i AS pos, qv[i] AS xu, qv[i] * {_KM_MILLI} AS xm
      FROM q, range(1, 65) t(i)
    ), seeds AS MATERIALIZED (
      SELECT vec_id, qv FROM (
        SELECT vec_id, qv, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM q
      ) r, nc WHERE r.rn <= nc.n_cells
    ), cent0 AS MATERIALIZED (
      SELECT vec_id AS cid, i AS pos, qv[i] * {_KM_MILLI} AS c
      FROM seeds, range(1, 65) t(i)
    ),
    {_lloyd_rounds_sql()},
    qq AS MATERIALIZED (
      SELECT vec_id AS query_id, {_QV_SQL} AS qv, embedding
      FROM embeddings WHERE vec_id < 5
    ), xq AS MATERIALIZED (
      SELECT query_id, i AS pos, qv[i] * {_KM_MILLI} AS xm
      FROM qq, range(1, 65) t(i)
    ), dq AS MATERIALIZED (
      SELECT xq.query_id, c.cid,
             SUM((xq.xm - c.c) * (xq.xm - c.c)) AS d2
      FROM xq JOIN cent{R} c ON xq.pos = c.pos
      GROUP BY 1, 2
    ), probes AS (
      SELECT query_id, cid AS cell FROM (
        SELECT query_id, cid,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2, cid) AS rn
        FROM dq
      ) p, nc WHERE p.rn <= nc.probe
    ), cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN a{R} a ON a.cid = p.cell
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT cand.query_id, cand.neighbor_id, {rr} AS cos,
             ROW_NUMBER() OVER (PARTITION BY cand.query_id
                                ORDER BY {rr} DESC,
                                         cand.neighbor_id ASC) AS rank
      FROM cand
      JOIN qq qr ON qr.query_id = cand.query_id
      JOIN q co ON co.vec_id = cand.neighbor_id
    ) WHERE rank <= {k}
    """


@register(
    "sim_ivf_topk",
    _ivf_lloyd_oracle(),
    "IVF ANN (learned cells + n_probe search + exact re-rank), "
    "end-to-end in the EXACT gate — round 8 retires the registry's "
    "one rows-only entry: the cell builder is now the deterministic "
    "integer-Lloyd kernel (seeded from the first n_cells corpus "
    "vectors by id, 4 fixed all-integer rounds — a pure function of "
    "the data, where MLlib's KMeans|| init samples per partition and "
    "shifts with physical layout). Round 10: n_cells and n_probe are "
    "CORPUS-RELATIVE (operators/similarity.ivf_knobs — cells = "
    "GREATEST(8, n/250), probe ~ sqrt(cells) floor 3, oracle-replayed "
    "from COUNT(*); floors reproduce the old fixed (8, 3) at every "
    "gate SF), so candidates/query grows as sqrt(n), not n. Corpus "
    "vectors assign to their final "
    "nearest centroid (integer milli-L2, ties to the smaller cid), "
    "queries probe their nearest cells the same way, and candidates "
    "get an exact cosine re-rank with (cos DESC, id ASC) tie-break. "
    "The unrolled-CTE oracle replays the ENTIRE index pipeline — "
    "including which candidates were pruned. Scale shape: per-round "
    "512-row broadcast joins + hash aggregates (the MLlib KMeans "
    "shape minus the layout-dependent init), cell-bucketed candidate "
    "equi-join, never all-pairs. The MLlib-cells variant remains the "
    "quality path as operators/similarity.py ivf_topk, recall-tested "
    "in tests/test_extensions.py.",
)
def sim_ivf_topk(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.functions.vectors import (
        cosine_similarity,
    )

    from youtube_trending_data_pipeline_spark.operators.similarity import (
        ivf_knobs,
    )

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QV_SPARK).alias("qv"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    queries = emb.where(F.col("vec_id") < 5)
    n_cells, n_probe = ivf_knobs(corpus.count())
    cent_arr, assign = _lloyd_fit(
        corpus.select("vec_id", "qv"), n_cells
    )
    cells = assign.select("vec_id", F.col("cid").alias("cell"))
    qvecs = queries.select(
        "vec_id",
        F.expr(f"transform(qv, v -> v * {_KM_MILLI})").alias("arr"),
    )
    probes = _lloyd_assign(qvecs, cent_arr, n_probe).select(
        F.col("vec_id").alias("query_id"), F.col("cid").alias("cell")
    )
    cand = (
        probes.join(cells, "cell")
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    scored = (
        cand.join(
            queries.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ),
            "query_id",
        )
        .join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("cand_vec"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("query_vec", "cand_vec").alias("cos"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= _IVF_K)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank")
    )

