"""Catalog extensions: analysis batch 2 — mining, spatial, multimodal audits.

Exact-median/skew/encoding audits, grid-blocked spatial join and
DBSCAN, Apriori itemsets, PQ recall, MATCH_RECOGNIZE, weighted-median
UDAF, RFM, and the Sobel/ZCR/motion multimodal kernels.
Split out of catalog_analysis.py, whose shared constants and helpers it
imports; ``catalog._load_extensions`` imports it after catalog_analysis.
"""

from __future__ import annotations

from pyspark.sql import Window as W  # noqa: F401
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.catalog import register, t
from youtube_trending_data_pipeline_spark.catalog_analysis import (  # noqa: F401
    _ER_SHIFT_C,
    _H32_DUCK,
    _H32_SPARK,
    _TOKS_A_SQL,
    _TOKS_SQL,
    _toks_a,
    holt_linear_fold,
    zonemap_skip_stats,
)

# ---------------------------------------------------------------------------
# Columnar encoding audit: RLE runs + dictionary size per layout
# ---------------------------------------------------------------------------


@register(
    "encoding_rle_audit",
    """
    WITH li AS (
      SELECT l_orderkey, l_linenumber, l_returnflag AS rf, l_linestatus AS ls,
             CAST(epoch_us(l_shipdate) // 86400000000 AS BIGINT) AS day
      FROM lineitem
    ), cols AS (
      SELECT 'returnflag' AS col, CAST(rf AS VARCHAR) AS v,
             l_orderkey AS o1, l_linenumber AS o2 FROM li
      UNION ALL
      SELECT 'linestatus', CAST(ls AS VARCHAR), l_orderkey, l_linenumber
      FROM li
      UNION ALL
      SELECT 'shipday', CAST(day AS VARCHAR), l_orderkey, l_linenumber
      FROM li
    ), runs AS (
      -- (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
      -- so the value itself is the deterministic tiebreaker: rows tied on
      -- the natural key sort their values adjacently in both engines,
      -- which pins the run count
      SELECT col, ord,
             CASE WHEN v = LAG(v) OVER (PARTITION BY col, ord
                                        ORDER BY k1, k2, v, k3)
                  THEN 0 ELSE 1 END AS is_run_start
      FROM (
        SELECT col, v, 'natural' AS ord,
               o1 AS k1, o2 AS k2, CAST(0 AS BIGINT) AS k3 FROM cols
        UNION ALL
        SELECT col, v, 'sorted', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               ROW_NUMBER() OVER (PARTITION BY col ORDER BY v, o1, o2)
        FROM cols
      )
    ), dict AS (
      SELECT col, CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM cols GROUP BY col
    )
    SELECT r.col, r.ord,
           d.n_rows, d.n_distinct,
           CAST(SUM(r.is_run_start) AS BIGINT) AS n_runs,
           CAST((1000000 * SUM(r.is_run_start)) // d.n_rows AS BIGINT)
             AS runs_per_row_ppm
    FROM runs r JOIN dict d USING (col)
    GROUP BY r.col, r.ord, d.n_rows, d.n_distinct
    """,
    "Columnar encoding audit — the RLE/dictionary sizing every "
    "Parquet writer decides per column chunk: for three lineitem "
    "columns (returnflag, linestatus, ship day), count the RLE runs "
    "the column produces under its NATURAL row order vs fully SORTED "
    "order, alongside dictionary cardinality — runs_per_row near 1e6 "
    "means RLE is useless (natural-order low-cardinality columns "
    "interleave), near n_distinct/n_rows means sorting made the "
    "column almost free to store. This is zonemap_skip_stats' "
    "sibling on the STORAGE axis: the same sort-on-write decision, "
    "measured in encoding runs instead of skipped files. Run starts "
    "are one LAG window per (column, layout); the sorted layout is "
    "simulated by a per-column rank (production writers sort within "
    "row groups).",
)
def encoding_rle_audit(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import ts_micros

    raw = t(spark, sf_dir, "lineitem")
    sd_dtype = dict(raw.dtypes).get("l_shipdate", "")
    li = raw.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.expr(
            f"({ts_micros(sd_dtype, 'l_shipdate')._jc.toString()})"
        ).alias("_us"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "rf",
        "ls",
        F.expr("CAST(_us div 86400000000 AS BIGINT)").alias("day"),
    )
    cols = (
        li.select(
            F.lit("returnflag").alias("col"),
            F.col("rf").cast("string").alias("v"),
            F.col("l_orderkey").alias("o1"),
            F.col("l_linenumber").alias("o2"),
        )
        .unionAll(
            li.select(
                F.lit("linestatus").alias("col"),
                F.col("ls").cast("string").alias("v"),
                F.col("l_orderkey").alias("o1"),
                F.col("l_linenumber").alias("o2"),
            )
        )
        .unionAll(
            li.select(
                F.lit("shipday").alias("col"),
                F.col("day").cast("string").alias("v"),
                F.col("l_orderkey").alias("o1"),
                F.col("l_linenumber").alias("o2"),
            )
        )
    )
    wsort = W.partitionBy("col").orderBy("v", "o1", "o2")
    stacked = cols.select(
        "col",
        "v",
        F.lit("natural").alias("ord"),
        F.col("o1").alias("k1"),
        F.col("o2").cast("long").alias("k2"),
        F.lit(0).cast("long").alias("k3"),
    ).unionAll(
        cols.select(
            "col",
            "v",
            F.lit("sorted").alias("ord"),
            F.lit(0).cast("long").alias("k1"),
            F.lit(0).cast("long").alias("k2"),
            F.row_number().over(wsort).cast("long").alias("k3"),
        )
    )
    wlag = W.partitionBy("col", "ord").orderBy("k1", "k2", "v", "k3")
    runs = stacked.select(
        "col",
        "ord",
        F.when(F.col("v") == F.lag("v").over(wlag), 0)
        .otherwise(1)
        .alias("is_run_start"),
    )
    dict_df = cols.groupBy("col").agg(
        F.countDistinct("v").cast("long").alias("n_distinct"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return (
        runs.groupBy("col", "ord")
        .agg(F.sum("is_run_start").cast("long").alias("n_runs"))
        .join(F.broadcast(dict_df), "col")
        .select(
            "col",
            "ord",
            "n_rows",
            "n_distinct",
            "n_runs",
            F.expr(
                "CAST((1000000 * n_runs) div n_rows AS BIGINT)"
            ).alias("runs_per_row_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Grid-blocked spatial self-join
# ---------------------------------------------------------------------------

_GEO_SPAN = 1000000      # plane edge (scaled integer units)
_GEO_CELL = 100000       # grid cell edge; radius <= cell guarantees 3x3
_GEO_R = 80000           # join radius
_GEO_R2 = _GEO_R * _GEO_R


@register(
    "geo_grid_spatial_join",
    f"""
    WITH pts AS (
      SELECT user_id,
             {_H32_DUCK.format(s="'x:' || CAST(user_id AS VARCHAR)")}
               % {_GEO_SPAN} AS x,
             {_H32_DUCK.format(s="'y:' || CAST(user_id AS VARCHAR)")}
               % {_GEO_SPAN} AS y
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST((a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
    FROM pts a JOIN pts b
      ON a.user_id < b.user_id
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         <= {_GEO_R2}
    """,
    "Grid-blocked spatial self-join — the uniform-grid algorithm "
    "behind every distance join (PostGIS ST_DWithin tiling, Sedona's "
    "partitioned spatial join): each user gets a deterministic "
    "hash-derived point on a 1e6-unit integer plane, and pairs within "
    "radius 80k are found by probing each point's 3x3 CELL "
    "NEIGHBORHOOD (cell edge >= radius makes the neighborhood "
    "sufficient, proven by the oracle) with an equi-join on cell "
    "coordinates + the exact integer distance filter. Each unordered "
    "pair is emitted exactly once: only the probe side with the "
    "smaller user id keeps its match. The oracle replays the "
    "quadratic DEFINITION (self-join + distance predicate) — "
    "independent algorithms, identical output. At 100 TB the grid "
    "equi-join shuffles each point 9x into dimension-bounded cells "
    "instead of comparing all pairs; skewed cells salt like any "
    "hot-key join.",
)
def geo_grid_spatial_join(spark, sf_dir):
    users = t(spark, sf_dir, "events").select("user_id").distinct()
    pts = users.select(
        "user_id",
        (
            F.expr(
                _H32_SPARK.format(s="concat('x:', cast(user_id as string))")
            )
            % _GEO_SPAN
        ).alias("x"),
        (
            F.expr(
                _H32_SPARK.format(s="concat('y:', cast(user_id as string))")
            )
            % _GEO_SPAN
        ).alias("y"),
    )
    home = pts.select(
        F.col("user_id").alias("ub"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.expr(f"x div {_GEO_CELL}").alias("cx"),
        F.expr(f"y div {_GEO_CELL}").alias("cy"),
    )
    probes = pts.select(
        F.col("user_id").alias("ua"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(-1, 1), i ->
                      transform(sequence(-1, 1), j ->
                        struct(x div {_GEO_CELL} + i AS cx,
                               y div {_GEO_CELL} + j AS cy))))"""
            )
        ).alias("c"),
    ).select("ua", "xa", "ya", F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"))
    return (
        probes.join(home, ["cx", "cy"])
        .where(F.col("ua") < F.col("ub"))
        .where(
            (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            <= _GEO_R2
        )
        .select(
            F.col("ua").alias("user_a"),
            F.col("ub").alias("user_b"),
            (
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
                + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            )
            .cast("long")
            .alias("dist2"),
        )
    )


# ---------------------------------------------------------------------------
# Temporal (time-respecting) reachability
# ---------------------------------------------------------------------------

_TR_ROUNDS = 4
_TR_SEED_MOD = 20
_TR_BUCKET_US = 600000000  # 10-minute co-occurrence buckets


def _temporal_oracle() -> str:
    """Unrolled time-respecting relaxation. MATERIALIZED rounds: each
    references the previous arrival vector twice (carry + relax)."""
    steps = []
    for i in range(1, _TR_ROUNDS + 1):
        steps.append(f"""
    a{i} AS MATERIALIZED (
      SELECT node, MIN(arrival) AS arrival FROM (
        SELECT node, arrival FROM a{i - 1}
        UNION ALL
        SELECT e.dst AS node, e.b AS arrival
        FROM edges e JOIN a{i - 1} p ON p.node = e.src AND p.arrival <= e.b
      ) GROUP BY node
    )""")
    return f"""
    WITH b AS MATERIALIZED (
      SELECT DISTINCT user_id, event_type,
             epoch_us(ts) // {_TR_BUCKET_US} AS bk
      FROM events
    ), und AS (
      SELECT x.user_id AS u, y.user_id AS v, x.bk AS b
      FROM b x JOIN b y
        ON x.event_type = y.event_type AND x.bk = y.bk
       AND x.user_id < y.user_id
      GROUP BY 1, 2, 3
    ), edges AS MATERIALIZED (
      SELECT u AS src, v AS dst, b FROM und
      UNION ALL SELECT v, u, b FROM und
    ), a0 AS MATERIALIZED (
      SELECT DISTINCT user_id AS node, CAST(0 AS BIGINT) AS arrival
      FROM events WHERE user_id % {_TR_SEED_MOD} = 0
    ),
    {','.join(steps)}
    SELECT node AS user_id, CAST(arrival AS BIGINT) AS arrival_bucket
    FROM a{_TR_ROUNDS}
    """


@register(
    "graph_temporal_reachability",
    _temporal_oracle(),
    "Time-respecting reachability (Kempe, Kleinberg & Kumar 2000 "
    "temporal paths): users co-occurring in the same 10-minute "
    "activity bucket are linked AT that bucket's time, and influence "
    "from seed users (id % 20 == 0) spreads only along edges whose "
    "time is >= the arrival time at the source — the contact-tracing "
    "/ information-diffusion primitive a static BFS gets WRONG "
    "(static paths can ride edges that fired before the source was "
    "reached). Four fixed relaxation rounds over the co-occurrence "
    "cliques; arrivals are monotone nonincreasing so the unrolled "
    "oracle replays the exact same prefix regardless of convergence. "
    "SCALE SHAPE (round-12 rewrite, a 100x-sweep find): the naive "
    "clique edge list is quadratic in bucket occupancy — a (type, "
    "bucket) holding u users emits u^2 pairs, and the 100x replica's "
    "shared time range drove the materialized edge list past local "
    "disk (50+ GB spill, job death). The engine now STAR-EXPANDS "
    "each co-occurrence clique through a virtual hub node (hub id = "
    "-(bk * n_types + type_rank) - 1, disjoint from user ids): "
    "user->hub and hub->user edges at the bucket's time, |edges| "
    "LINEAR in bucket membership, and each clique relaxation round "
    "becomes exactly two hub rounds (u->hub needs arrival(u) <= b "
    "and stamps the hub b; hub->v stamps v at b) — arrivals after "
    "2k hub rounds equal the clique graph's after k rounds, so the "
    "clique-semantics oracle verifies the star engine EXACTLY. At "
    "100 TB: the hub edge list shuffles once, rounds reuse it "
    "(localCheckpoint lineage cuts, the pagerank doctrine). 100x "
    "replica: the pre-fix clique build died on disk; the star build "
    "runs clean.",
)
def graph_temporal_reachability(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    posts = ev.select(
        "user_id",
        "event_type",
        F.expr(f"(ts div 1000) div {_TR_BUCKET_US}").alias("bk"),
    ).distinct()
    # dimension-sized: rank the event types so hub ids are a pure
    # function of the data (deterministic across partitionings)
    types = posts.select("event_type").distinct()
    n_types = types.count()  # scalar probe, bounded by the type dimension
    trank = types.select(
        "event_type",
        (F.row_number().over(W.orderBy("event_type")) - 1).alias("_tix"),
    )
    hubbed = posts.join(F.broadcast(trank), "event_type").select(
        "user_id",
        "bk",
        (-(F.col("bk") * n_types + F.col("_tix")) - 1).alias("hub"),
    )
    edges = (
        hubbed.select(
            F.col("user_id").alias("src"), F.col("hub").alias("dst"),
            F.col("bk").alias("b"),
        )
        .unionAll(
            hubbed.select(
                F.col("hub").alias("src"), F.col("user_id").alias("dst"),
                F.col("bk").alias("b"),
            )
        )
        .localCheckpoint(eager=False)
    )
    arrivals = (
        ev.where(F.col("user_id") % _TR_SEED_MOD == 0)
        .select(F.col("user_id").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("arrival"))
        .localCheckpoint(eager=False)
    )
    for _ in range(2 * _TR_ROUNDS):
        relaxed = (
            edges.join(arrivals, edges["src"] == arrivals["node"])
            .where(F.col("arrival") <= F.col("b"))
            .select(F.col("dst").alias("node"), F.col("b").alias("arrival"))
        )
        arrivals = (
            arrivals.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("arrival").alias("arrival"))
            .localCheckpoint(eager=False)
        )
    return arrivals.where(F.col("node") >= 0).select(
        F.col("node").alias("user_id"),
        F.col("arrival").cast("long").alias("arrival_bucket"),
    )


# ---------------------------------------------------------------------------
# Range-partitioner boundary quality audit
# ---------------------------------------------------------------------------

_RP_PARTS = 32
_RP_SAMPLE_MOD = 100


@register(
    "range_partition_balance",
    f"""
    WITH x AS (
      SELECT l_partkey AS v,
             {_H32_DUCK.format(
                 s="CAST(l_orderkey AS VARCHAR) || ':' || "
                   "CAST(l_linenumber AS VARCHAR) || ':' || "
                   "CAST(l_partkey AS VARCHAR)")} AS h
      FROM lineitem
    ), samp AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v, h) AS rn,
             COUNT(*) OVER () AS ns
      FROM x WHERE h % {_RP_SAMPLE_MOD} = 0
    ), bounds AS (
      SELECT v AS cut
      FROM samp
      WHERE rn IN (SELECT ((i * ns) // {_RP_PARTS})
                   FROM (SELECT unnest(range(1, {_RP_PARTS})) AS i),
                        (SELECT MAX(ns) AS ns FROM samp))
      GROUP BY v
    ), assigned AS (
      SELECT x.v,
             (SELECT COUNT(*) FROM bounds b WHERE b.cut < x.v) AS part
      FROM x
    ), sizes AS (
      SELECT part, CAST(COUNT(*) AS BIGINT) AS n FROM assigned GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts_used,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_rows,
           CAST(MIN(n) AS BIGINT) AS min_rows,
           CAST((1000000 * MAX(n) * COUNT(*)) // SUM(n) AS BIGINT)
             AS imbalance_ppm,
           (SELECT CAST(MAX(ns) AS BIGINT) FROM samp) AS sample_rows
    FROM sizes
    """,
    "Range-partitioner boundary quality audit — what Spark's "
    "RangePartitioner does before every sort/repartitionByRange, made "
    "measurable: a deterministic ~1% hash sample of lineitem part "
    "keys yields 31 equi-depth cut points, the FULL table is assigned "
    "by boundary rank (count of cuts below the value), and the audit "
    "reports max/min partition sizes and the straggler factor "
    "(max-over-mean ppm) the sampled boundaries actually deliver — "
    "the number that decides whether a sample rate is safe before a "
    "100 TB global sort. Duplicate cut values collapse (GROUP BY), so "
    "heavy keys that defeat range splitting surface as used-partition "
    "loss, exactly like the real partitioner.",
)
def range_partition_balance(spark, sf_dir):
    x = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("v"),
        F.expr(
            _H32_SPARK.format(
                s="concat(cast(l_orderkey as string), ':', "
                "cast(l_linenumber as string), ':', "
                "cast(l_partkey as string))"
            )
        ).alias("h"),
    )
    samp = x.where(F.col("h") % _RP_SAMPLE_MOD == 0)
    ws = W.orderBy("v", "h")
    sr = samp.select(
        "v",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("ns"),
    )
    ranks = spark.range(1, _RP_PARTS).select(F.col("id").alias("i"))
    bounds = (
        sr.crossJoin(F.broadcast(ranks))
        .where(F.col("rn") == F.expr(f"(i * ns) div {_RP_PARTS}"))
        .select(F.col("v").alias("cut"))
        .distinct()
    )
    # the 31 cuts ride along as ONE broadcast array; each row ranks
    # itself map-side (count of cuts below the value). A join+group
    # formulation would collapse duplicate rows — (orderkey, linenumber)
    # is not unique in the synthetic data — and undercount.
    cuts = bounds.agg(F.sort_array(F.collect_list("cut")).alias("cuts"))
    assigned = (
        x.crossJoin(F.broadcast(cuts))
        .select(
            F.size(
                F.filter("cuts", lambda c: c < F.col("v"))
            ).alias("part")
        )
    )
    sizes = assigned.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    sample_rows = samp.agg(
        F.count(F.lit(1)).cast("long").alias("sample_rows")
    )
    return (
        sizes.agg(
            F.count(F.lit(1)).cast("long").alias("n_parts_used"),
            F.sum("n").cast("long").alias("n_rows"),
            F.max("n").cast("long").alias("max_rows"),
            F.min("n").cast("long").alias("min_rows"),
            F.expr(
                "CAST((1000000 * MAX(n) * COUNT(*)) div SUM(n) AS BIGINT)"
            ).alias("imbalance_ppm"),
        )
        .crossJoin(F.broadcast(sample_rows))
    )


# ---------------------------------------------------------------------------
# l-diversity audit (companion to privacy_k_anonymity)
# ---------------------------------------------------------------------------

_LDIV_L = 3
_LDIV_BAND_C = 200000


@register(
    "privacy_l_diversity",
    f"""
    WITH c AS (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
             (CAST(ROUND(c_acctbal * 100) AS BIGINT) + {_ER_SHIFT_C})
               // {_LDIV_BAND_C} AS sens
      FROM customer
    )
    SELECT nat, seg,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT sens) AS BIGINT) AS l_distinct,
           CAST(CASE WHEN COUNT(DISTINCT sens) >= {_LDIV_L}
                THEN 1 ELSE 0 END AS BIGINT) AS satisfies_l
    FROM c GROUP BY nat, seg
    """,
    "l-diversity audit (Machanavajjhala et al. 2007) — the "
    "k-anonymity companion that catches the homogeneity attack "
    "k-anonymity misses: per quasi-identifier group (nation, "
    "segment), count DISTINCT sensitive values (shifted-positive "
    "balance bands) and flag groups below l=3, where every member's "
    "sensitive value is effectively disclosed even though the group "
    "is large. One grouped distinct-count; the release decision "
    "then suppresses or generalizes the failing groups "
    "(privacy_k_anonymity's machinery).",
)
def privacy_l_diversity(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            f"(CAST(ROUND(c_acctbal * 100) AS BIGINT) + {_ER_SHIFT_C}) "
            f"div {_LDIV_BAND_C}"
        ).alias("sens"),
    )
    return c.groupBy("nat", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct("sens").cast("long").alias("l_distinct"),
        F.when(F.countDistinct("sens") >= _LDIV_L, 1)
        .otherwise(0)
        .cast("long")
        .alias("satisfies_l"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust slope (median of pairwise slopes)
# ---------------------------------------------------------------------------

_TS_MAX_EVENTS = 20


@register(
    "regr_theil_sen",
    f"""
    WITH r AS (
      SELECT user_id, epoch_us(ts) AS tu,
             CAST(ROUND(value * 100) AS BIGINT) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ), w AS (
      SELECT * FROM r WHERE rn <= {_TS_MAX_EVENTS}
    ), slopes AS (
      -- integer truncating division on a signed numerator: DuckDB's //
      -- on BIGINT truncates toward zero, matching Spark's div (NOT
      -- Python's floor //)
      SELECT a.user_id,
             (1000000 * (b.v - a.v)) // (b.tu - a.tu) AS slope_ppm
      FROM w a JOIN w b
        ON a.user_id = b.user_id AND a.rn < b.rn AND b.tu > a.tu
    ), med AS (
      SELECT user_id, slope_ppm,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY slope_ppm, slope_ppm) AS mrn,
             COUNT(*) OVER (PARTITION BY user_id) AS np
      FROM slopes
    )
    SELECT user_id, CAST(MAX(np) AS BIGINT) AS n_pairs,
           CAST(MAX(CASE WHEN mrn = (np + 1) // 2 THEN slope_ppm END)
                AS BIGINT) AS theil_sen_ppm
    FROM med GROUP BY user_id
    """,
    "Theil-Sen robust slope estimator (the median of all pairwise "
    "slopes; Sen 1968) for each user's value-over-time trend — "
    "resistant to the outliers that wreck the OLS fit in "
    "a24_regr_fit, which is exactly why robust monitors use it. "
    "Pairs come from the first 20 events per user (the pass@k "
    "capping discipline: the quadratic pair count is bounded at "
    "190/user at ANY corpus scale), slopes are integer ppm with "
    "truncating division spelled identically in both engines, "
    "equal-timestamp pairs are excluded (undefined slope), and the "
    "median is the lower order statistic — deterministic, no "
    "averaging of middle pairs.",
)
def regr_theil_sen(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    r = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("tu"),
        cents("value").alias("v"),
    )
    wr = W.partitionBy("user_id").orderBy("tu", "event_id")
    w = (
        r.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= _TS_MAX_EVENTS)
        .select("user_id", "tu", "v", "rn")
    )
    a, b = w.alias("a"), w.alias("b")
    slopes = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.rn") < F.col("b.rn"))
        & (F.col("b.tu") > F.col("a.tu")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.expr(
            "(1000000 * (b.v - a.v)) div (b.tu - a.tu)"
        ).alias("slope_ppm"),
    )
    wm = W.partitionBy("user_id").orderBy("slope_ppm")
    med = slopes.select(
        "user_id",
        "slope_ppm",
        F.row_number().over(wm).alias("mrn"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("np"),
    )
    return med.groupBy("user_id").agg(
        F.max("np").cast("long").alias("n_pairs"),
        F.max(
            F.when(F.col("mrn") == F.expr("(np + 1) div 2"), F.col("slope_ppm"))
        )
        .cast("long")
        .alias("theil_sen_ppm"),
    )


# ---------------------------------------------------------------------------
# Largest-remainder quota allocation
# ---------------------------------------------------------------------------

_QUOTA_SLOTS = 1000


@register(
    "quota_largest_remainder",
    f"""
    WITH d AS (
      SELECT source, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ), tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM d),
    base AS (
      SELECT d.source, d.toks,
             ({_QUOTA_SLOTS} * d.toks) // tot.total AS base,
             ({_QUOTA_SLOTS} * d.toks) % tot.total AS rem
      FROM d, tot
    ), leftover AS (
      SELECT CAST({_QUOTA_SLOTS} - SUM(base) AS BIGINT) AS extra FROM base
    ), ranked AS (
      SELECT source, toks, base, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM base
    )
    SELECT r.source, r.toks, CAST(r.base AS BIGINT) AS base_alloc,
           CAST(CASE WHEN r.rk <= l.extra THEN 1 ELSE 0 END AS BIGINT)
             AS extra_slot,
           CAST(r.base + CASE WHEN r.rk <= l.extra THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked r, leftover l
    """,
    "Largest-remainder (Hamilton) quota allocation: 1000 sampling "
    "slots apportioned across document sources proportionally to "
    "their token mass — floor shares first, then the leftover slots "
    "go to the largest remainders (ties to the lexicographically "
    "smaller source). This is the exact-integer apportionment every "
    "mixture-sampling plan needs once corpus_budget_select has picked "
    "WHAT to keep: allocations always sum to exactly the slot budget "
    "(no float drift, no re-normalization pass), which the behavioral "
    "test asserts. Dimension-sized end to end after one token "
    "aggregate.",
)
def quota_largest_remainder(spark, sf_dir):
    d = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(_toks_a())).cast("long").alias("toks"))
    )
    tot = d.agg(F.sum("toks").cast("long").alias("total"))
    base = d.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        F.expr(f"({_QUOTA_SLOTS} * toks) div total").alias("base"),
        F.expr(f"({_QUOTA_SLOTS} * toks) % total").alias("rem"),
    )
    leftover = base.agg(
        (F.lit(_QUOTA_SLOTS) - F.sum("base")).cast("long").alias("extra")
    )
    wr = W.orderBy(F.desc("rem"), F.asc("source"))
    ranked = base.withColumn("rk", F.row_number().over(wr))
    return ranked.crossJoin(F.broadcast(leftover)).select(
        "source",
        "toks",
        F.col("base").cast("long").alias("base_alloc"),
        F.when(F.col("rk") <= F.col("extra"), 1)
        .otherwise(0)
        .cast("long")
        .alias("extra_slot"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )


# ---------------------------------------------------------------------------
# Hash-quality collision audit
# ---------------------------------------------------------------------------

_HC_BITS = 16
_HC_DOMAIN = 1 << _HC_BITS


@register(
    "hash_collision_audit",
    f"""
    WITH e AS (
      SELECT DISTINCT CAST(event_id AS VARCHAR) AS s FROM events
    ), h AS (
      SELECT {_H32_DUCK.format(s="s")} % {_HC_DOMAIN} AS h16 FROM e
    ), g AS (
      SELECT h16, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY 1
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e)
    SELECT n.n,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_h,
           CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS colliding_pairs,
           CAST((n.n * (n.n - 1) // 2) // {_HC_DOMAIN} AS BIGINT)
             AS expected_pairs
    FROM g, n GROUP BY n.n
    """,
    "Hash-quality collision audit: every event id hashed into a "
    "DELIBERATELY small 16-bit domain, actual colliding pairs "
    "(sum of C(c,2) over hash buckets) reported against the birthday "
    "bound n(n-1)/2/65536 — the audit run before trusting a "
    "fingerprint width for dedup keys or shuffle buckets (the md5-32 "
    "prefix used across this engine passes at 32 bits; truncating to "
    "16 shows exactly the collision mass the bound predicts). One "
    "hash aggregate over distinct ids; all integer.",
)
def hash_collision_audit(spark, sf_dir):
    e = (
        t(spark, sf_dir, "events")
        .select(F.col("event_id").cast("string").alias("s"))
        .distinct()
    )
    h = e.select(
        (F.expr(_H32_SPARK.format(s="s")) % _HC_DOMAIN).alias("h16")
    )
    g = h.groupBy("h16").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        g.crossJoin(F.broadcast(n))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_h"),
            F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias(
                "colliding_pairs"
            ),
            F.expr(
                f"CAST((MAX(n) * (MAX(n) - 1) div 2) div {_HC_DOMAIN} "
                "AS BIGINT)"
            ).alias("expected_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# Kendall tau distance between two rankings
# ---------------------------------------------------------------------------

_KT_TOP = 50


@register(
    "eval_kendall_tau",
    f"""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS sa,
             CAST(100 * len(list_distinct({_TOKS_SQL})) AS BIGINT) AS sb
      FROM documents
    ), top AS (
      SELECT doc_id, sa, sb
      FROM d ORDER BY sa DESC, doc_id LIMIT {_KT_TOP}
    ), ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY sa DESC, doc_id) AS ra,
             ROW_NUMBER() OVER (ORDER BY sb DESC, doc_id) AS rb
      FROM top
    ), pairs AS (
      SELECT CASE WHEN (a.ra < b.ra) <> (a.rb < b.rb)
             THEN 1 ELSE 0 END AS disc
      FROM ranked a JOIN ranked b ON a.doc_id < b.doc_id
    )
    SELECT CAST({_KT_TOP} AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(disc) AS BIGINT) AS n_discordant,
           CAST((1000000 * (COUNT(*) - 2 * SUM(disc))) // COUNT(*)
                AS BIGINT) AS tau_ppm
    FROM pairs
    """,
    "Kendall tau rank correlation between two retrieval signals "
    "(char-length vs lexical-richness rankings of the top-50 docs): "
    "discordant pairs counted exactly, tau = (concordant - "
    "discordant) / pairs in integer ppm — the ranking-agreement "
    "number behind judge-vs-judge and reranker-vs-baseline evals, "
    "where Spearman/Pearson on float scores would be "
    "engine-dependent. Both rankings use strict row_number with "
    "doc_id tie-break, so concordance is total and the pair "
    "comparison is pure integer logic; the top-50 cap bounds the "
    "quadratic pair count at any corpus scale (the Theil-Sen / "
    "pass@k capping discipline).",
)
def eval_kendall_tau(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("sa"),
        (100 * F.size(F.array_distinct(_toks_a()))).cast("long").alias("sb"),
    )
    top = d.orderBy(F.desc("sa"), F.asc("doc_id")).limit(_KT_TOP)
    wa = W.orderBy(F.desc("sa"), F.asc("doc_id"))
    wb = W.orderBy(F.desc("sb"), F.asc("doc_id"))
    ranked = top.select(
        "doc_id",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.when(
            (F.col("a.ra") < F.col("b.ra")) != (F.col("a.rb") < F.col("b.rb")),
            1,
        )
        .otherwise(0)
        .alias("disc")
    )
    return pairs.agg(
        F.lit(_KT_TOP).cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("disc").cast("long").alias("n_discordant"),
        F.expr(
            "CAST((1000000 * (COUNT(*) - 2 * SUM(disc))) div COUNT(*) "
            "AS BIGINT)"
        ).alias("tau_ppm"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit forensic audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) in ppm, rounded — constants, not computed (cross-engine
# float logs are not bit-stable)
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_VALUES = ", ".join(
    f"({d}, {p})" for d, p in _BENFORD_PPM.items()
)


@register(
    "dq_benford_digits",
    f"""
    WITH v AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
      FROM lineitem
      WHERE l_extendedprice > 0
    ), fd AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM v
    ), cnt AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
      FROM fd GROUP BY digit
    ), bf(digit, benford_ppm) AS (VALUES {_BENFORD_VALUES})
    SELECT b.digit, COALESCE(c.n, 0) AS n,
           CAST((1000000 * COALESCE(c.n, 0)) // MAX(c2.total) AS BIGINT)
             AS actual_ppm,
           CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
           CAST(abs((1000000 * COALESCE(c.n, 0)) // MAX(c2.total)
                    - b.benford_ppm) AS BIGINT) AS abs_dev_ppm
    FROM bf b
    LEFT JOIN cnt c ON c.digit = b.digit, (SELECT total FROM cnt LIMIT 1) c2(total)
    GROUP BY b.digit, c.n, b.benford_ppm
    """,
    "Benford first-digit forensic audit (Newcomb 1881 / Benford "
    "1938) over positive price cents — the fraud/synthetic-data "
    "screen auditors run on financial columns: per leading digit, "
    "actual frequency in ppm against the Benford expectation, with "
    "the expectations as INTEGER LITERALS (cross-engine float log10 "
    "is not bit-stable; the constants are). TPC-H uniform prices "
    "FAIL Benford loudly — which is the point: the audit detects "
    "non-naturally-distributed columns, and the behavioral test "
    "pins that signature. One digit aggregate + a 9-row literal "
    "spine.",
)
def dq_benford_digits(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    v = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_extendedprice") > 0)
        .select(cents("l_extendedprice").alias("c"))
    )
    fd = v.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("digit")
    )
    cnt = fd.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    total = fd.agg(F.count(F.lit(1)).cast("long").alias("total"))
    bf = spark.createDataFrame(
        sorted(_BENFORD_PPM.items()), "digit long, benford_ppm long"
    )
    return (
        bf.join(cnt, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.expr(
                "CAST((1000000 * COALESCE(n, 0)) div total AS BIGINT)"
            ).alias("actual_ppm"),
            F.col("benford_ppm").cast("long").alias("benford_ppm"),
            F.expr(
                "CAST(abs((1000000 * COALESCE(n, 0)) div total "
                "- benford_ppm) AS BIGINT)"
            ).alias("abs_dev_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source quantile normalization
# ---------------------------------------------------------------------------


@register(
    "feature_quantile_normalize",
    f"""
    WITH d AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v FROM documents
    ), src AS (
      SELECT doc_id, source, v,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id)
               AS r,
             COUNT(*) OVER (PARTITION BY source) AS ns
      FROM d
    ), pooled AS (
      SELECT v AS ref_v,
             ROW_NUMBER() OVER (ORDER BY v, doc_id) AS g,
             COUNT(*) OVER () AS n
      FROM d
    )
    SELECT s.doc_id, s.source, s.v AS orig_chars,
           p.ref_v AS norm_chars
    FROM src s JOIN pooled p
      ON p.g = (s.r * p.n + s.ns - 1) // s.ns
    """,
    "Cross-source quantile normalization (the microarray-era "
    "technique feature pipelines still use to make per-source "
    "distributions comparable): each document's char length is "
    "replaced by the POOLED distribution's value at the same "
    "quantile — rank r of n_s within its source maps to pooled rank "
    "ceil(r*N/n_s), all integer rank arithmetic, strict (value, "
    "doc_id) orders so both engines agree on every tie. After this, "
    "a length threshold means the same thing for every source — the "
    "prerequisite for fair per-source quality gates. One window per "
    "side + one equi-join on the computed rank.",
)
def feature_quantile_normalize(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("v")
    )
    ws = W.partitionBy("source").orderBy("v", "doc_id")
    src = d.select(
        "doc_id",
        "source",
        "v",
        F.row_number().over(ws).alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("ns"),
    )
    wg = W.orderBy("v", "doc_id")
    pooled = d.select(
        F.col("v").alias("ref_v"),
        F.row_number().over(wg).alias("g"),
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # target rank computed src-side (1-row count append) so the pooled
    # lookup stays an EQUI-join — a mixed-side rank expression would
    # plan as an unbounded nested-loop join
    tgt = src.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "v",
        F.expr("(r * n + ns - 1) div ns").alias("g"),
    )
    return tgt.join(pooled, "g").select(
        "doc_id",
        "source",
        F.col("v").alias("orig_chars"),
        F.col("ref_v").alias("norm_chars"),
    )


# ---------------------------------------------------------------------------
# Shannon-code compression bound audit
# ---------------------------------------------------------------------------


@register(
    "token_shannon_code_audit",
    f"""
    WITH tk AS (
      SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ), cnt AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY tok
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM cnt
    ), coded AS (
      SELECT cnt.tok, cnt.c,
             CASE WHEN (tot.total + cnt.c - 1) // cnt.c <= 1 THEN 1
                  ELSE length(bin((tot.total + cnt.c - 1) // cnt.c - 1))
             END AS code_bits,
             CASE WHEN tot.vocab <= 1 THEN 1
                  ELSE length(bin(tot.vocab - 1)) END AS fixed_bits,
             tot.total
      FROM cnt, tot
    )
    SELECT tok, c,
           CAST(code_bits AS BIGINT) AS code_bits,
           CAST(c * code_bits AS BIGINT) AS weighted_bits,
           CAST(fixed_bits AS BIGINT) AS fixed_bits,
           CAST(c * fixed_bits AS BIGINT) AS fixed_weighted_bits
    FROM coded
    """,
    "Shannon-code compression bound audit: per corpus token, the "
    "integer Shannon code length ceil(log2(total/count)) — computed "
    "EXACTLY as length(bin(ceil(total/c) - 1)), which both engines "
    "evaluate bit-identically, no float log2 — against the "
    "fixed-length ceil(log2 V) baseline, with frequency-weighted bit "
    "totals per token. Kraft-valid by construction (L >= log2(1/p)); "
    "summing weighted_bits vs fixed_weighted_bits reads off whether "
    "a frequency-aware token encoding pays AT ALL — on this corpus' "
    "near-uniform vocabulary the ceiling overhead actually LOSES to "
    "fixed-length (the behavioral test pins both regimes with a "
    "skewed crafted corpus), which is exactly the go/no-go the audit "
    "exists to answer before anyone ships dictionary coding. "
    "Companion to encoding_rle_audit on the value-stream side; one "
    "vocabulary aggregate + a 1-row totals append.",
)
def token_shannon_code_audit(spark, sf_dir):
    tk = t(spark, sf_dir, "documents").select(
        F.explode(_toks_a()).alias("tok")
    )
    cnt = tk.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = cnt.agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "c",
            F.expr(
                "CAST(CASE WHEN (total + c - 1) div c <= 1 THEN 1 "
                "ELSE length(bin((total + c - 1) div c - 1)) END AS BIGINT)"
            ).alias("code_bits"),
            F.expr(
                "CAST(CASE WHEN vocab <= 1 THEN 1 "
                "ELSE length(bin(vocab - 1)) END AS BIGINT)"
            ).alias("fixed_bits"),
        )
        .select(
            "tok",
            "c",
            "code_bits",
            (F.col("c") * F.col("code_bits")).cast("long").alias(
                "weighted_bits"
            ),
            "fixed_bits",
            (F.col("c") * F.col("fixed_bits")).cast("long").alias(
                "fixed_weighted_bits"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Positional phrase query over an inverted index
# ---------------------------------------------------------------------------

_PHRASES = [("table", "hash"), ("customer", "join"), ("merge", "group")]
_PHRASE_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in _PHRASES)


@register(
    "index_phrase_query",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), post AS (
      SELECT doc_id, toks[i] AS tok, i AS pos
      FROM tk, unnest(range(1, len(toks) + 1)) AS u(i)
    ), ph(w1, w2) AS (VALUES {_PHRASE_VALUES})
    SELECT ph.w1 || ' ' || ph.w2 AS phrase, p1.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM ph
    JOIN post p1 ON p1.tok = ph.w1
    JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
                AND p2.tok = ph.w2
    GROUP BY 1, 2
    """,
    "Positional phrase query — the inverted-index capability term "
    "lookup alone cannot give you (Lucene/ES match_phrase): postings "
    "carry POSITIONS (posexplode), and a phrase hits where the second "
    "term's posting sits at exactly pos+1 of the first's, per "
    "document. Three fixed phrases are resolved in one pass: the "
    "phrase spine is a broadcast literal, the adjacency check is an "
    "equi-join on (doc, pos+1) — at 100 TB this is two posting-list "
    "retrievals + a positional merge per phrase, never a rescan of "
    "raw text. Companion to inverted_index (term level) and "
    "text_winnow_fingerprints (shingle level).",
)
def index_phrase_query(spark, sf_dir):
    post = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(_toks_a()).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    ph = spark.createDataFrame(_PHRASES, "w1 string, w2 string")
    p1 = post.join(F.broadcast(ph), post["tok"] == ph["w1"]).select(
        "doc_id", "pos", "w1", "w2"
    )
    p2 = post.select(
        F.col("doc_id").alias("d2"),
        F.col("pos").alias("pos2"),
        F.col("tok").alias("tok2"),
    )
    return (
        p1.join(
            p2,
            (F.col("doc_id") == F.col("d2"))
            & (F.col("pos2") == F.col("pos") + 1)
            & (F.col("tok2") == F.col("w2")),
        )
        .groupBy(
            F.concat_ws(" ", "w1", "w2").alias("phrase"), "doc_id"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# PQ/ADC recall audit against the exact baseline
# ---------------------------------------------------------------------------


def _pq_recall_oracle(sf_dir: str | None = None) -> str:
    """Composes the two REGISTERED pipeline oracles (sim_pq_adc_topk and
    sim_bruteforce_topk) as subqueries — the audit replays both full
    candidate pipelines, not a simplification of either."""
    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    pq = QUERIES["sim_pq_adc_topk"].oracle
    bf = QUERIES["sim_bruteforce_topk"].oracle
    return f"""
    WITH pq AS (SELECT query_id, neighbor_id FROM ({pq}) x),
         bf AS (SELECT query_id, neighbor_id FROM ({bf}) y),
         ov AS (
           SELECT pq.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
           FROM pq JOIN bf USING (query_id, neighbor_id)
           GROUP BY 1
         )
    SELECT q.query_id,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(3 AS BIGINT) AS k,
           CAST((1000000 * COALESCE(ov.n_overlap, 0)) // 3 AS BIGINT)
             AS recall_ppm
    FROM (SELECT DISTINCT query_id FROM bf) q
    LEFT JOIN ov ON ov.query_id = q.query_id
    """


@register(
    "sim_pq_recall_audit",
    _pq_recall_oracle,
    "PQ/ADC recall audit — the number that decides whether a "
    "product-quantized index is deployable: per query, how many of "
    "the EXACT top-3 neighbors (sim_bruteforce_topk's pipeline) the "
    "asymmetric-distance PQ search (sim_pq_adc_topk's pipeline) "
    "actually returns, as recall@3 in integer ppm. Both sides are "
    "the REGISTERED pipelines composed whole — the Spark plan joins "
    "the two entry DataFrames, the oracle nests the two entry "
    "oracles as subqueries — so the audit can never drift from what "
    "the index entries themselves compute. The compression-vs-"
    "quality readout every ANN deployment pins to a dashboard.",
)
def sim_pq_recall_audit(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    pq = QUERIES["sim_pq_adc_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    bf = QUERIES["sim_bruteforce_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ov = pq.join(bf, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    q = bf.select("query_id").distinct()
    return q.join(ov, "query_id", "left").select(
        "query_id",
        F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        F.lit(3).cast("long").alias("k"),
        F.expr(
            "CAST((1000000 * COALESCE(n_overlap, 0)) div 3 AS BIGINT)"
        ).alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE-style sequence pattern over event runs
# ---------------------------------------------------------------------------

_MR_PATTERN = ("click", "view", "purchase")


@register(
    "pattern_match_recognize",
    f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) AS tsn, event_id
      FROM events
    ), marked AS (
      SELECT user_id, event_type, tsn, event_id,
             CASE WHEN event_type = LAG(event_type) OVER w
                  THEN 0 ELSE 1 END AS is_start
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
    ), runs AS (
      SELECT user_id, event_type, tsn, event_id,
             SUM(is_start) OVER (PARTITION BY user_id
                                 ORDER BY tsn, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    ), rle AS (
      SELECT user_id, run_id, MIN(event_type) AS event_type,
             CAST(COUNT(*) AS BIGINT) AS run_len
      FROM runs GROUP BY user_id, run_id
    ), seq AS (
      SELECT user_id, run_id, event_type, run_len,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(run_len, 1) OVER w AS l2,
             LEAD(event_type, 2) OVER w AS t3,
             LEAD(run_len, 2) OVER w AS l3
      FROM rle WINDOW w AS (PARTITION BY user_id ORDER BY run_id)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(SUM(run_len + l2 + l3) AS BIGINT) AS events_spanned
    FROM seq
    WHERE event_type = '{_MR_PATTERN[0]}'
      AND t2 = '{_MR_PATTERN[1]}'
      AND t3 = '{_MR_PATTERN[2]}'
    GROUP BY user_id
    """,
    "MATCH_RECOGNIZE emulation (SQL:2016 row-pattern matching, which "
    "Spark does not ship): the pattern click+ view+ purchase+ is "
    "found per user by run-length-encoding the event-type sequence "
    "(lag -> run starts -> prefix-sum run ids -> one aggregate per "
    "run) and sliding a 3-run window over the RLE — a regex over "
    "RUNS instead of rows, which is how Flink/Trino implement "
    "greedy quantifiers. Reports match counts and the events each "
    "match spans. Every step is a keyed window or aggregate; the "
    "RLE table is at most one row per run, so the pattern join "
    "never rescans raw events — the funnel_view_click_purchase "
    "sibling with true adjacency semantics (no intervening other "
    "events allowed).",
)
def pattern_match_recognize(spark, sf_dir):
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").alias("tsn"), "event_id"
    )
    wu = W.partitionBy("user_id").orderBy("tsn", "event_id")
    marked = e.withColumn(
        "is_start",
        F.when(
            F.col("event_type") == F.lag("event_type").over(wu), 0
        ).otherwise(1),
    )
    runs = marked.withColumn(
        "run_id",
        F.sum("is_start").over(wu.rowsBetween(W.unboundedPreceding, 0)),
    )
    rle = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"),
        F.count(F.lit(1)).cast("long").alias("run_len"),
    )
    wr = W.partitionBy("user_id").orderBy("run_id")
    seq = rle.select(
        "user_id",
        "event_type",
        "run_len",
        F.lead("event_type", 1).over(wr).alias("t2"),
        F.lead("run_len", 1).over(wr).alias("l2"),
        F.lead("event_type", 2).over(wr).alias("t3"),
        F.lead("run_len", 2).over(wr).alias("l3"),
    )
    return (
        seq.where(
            (F.col("event_type") == _MR_PATTERN[0])
            & (F.col("t2") == _MR_PATTERN[1])
            & (F.col("t3") == _MR_PATTERN[2])
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.sum(F.col("run_len") + F.col("l2") + F.col("l3"))
            .cast("long")
            .alias("events_spanned"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDAF under the exact gate: weighted median
# ---------------------------------------------------------------------------


@register(
    "udaf_weighted_median",
    """
    WITH e AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS v,
             1 + (event_id % 3) AS w
      FROM events
    ), cum AS (
      SELECT event_type, v, w,
             SUM(w) OVER (PARTITION BY event_type
                          ORDER BY v, w
                          ROWS UNBOUNDED PRECEDING) AS run,
             SUM(w) OVER (PARTITION BY event_type) AS total
      FROM e
    )
    SELECT event_type,
           CAST(MIN(CASE WHEN 2 * run >= total THEN v END) AS BIGINT)
             AS weighted_median_c,
           CAST(MAX(total) AS BIGINT) AS total_weight
    FROM cum GROUP BY event_type
    """,
    "Weighted median per event type via a GROUPED_AGG pandas UDAF — "
    "the §2.11 extension surface under the EXACT gate, not just a "
    "smoke test: Arrow ships each group's (value, weight) arrays to a "
    "vectorized numpy kernel (sort + cumsum + searchsorted — the "
    "lower weighted median, smallest v whose cumulative weight "
    "reaches half the total, ties resolved by the same (v, w) sort "
    "order the oracle uses). Weights are deterministic (1 + id % 3). "
    "The oracle replays the definition with windows. Where a "
    "cumulative-window SQL form also exists (and the oracle uses "
    "it), the UDAF form is the one that generalizes to kernels SQL "
    "cannot express — this entry pins the Arrow path's exactness so "
    "those kernels inherit a proven harness.",
)
def udaf_weighted_median(spark, sf_dir):
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from youtube_trending_data_pipeline_spark.catalog import cents

    # functionType spelled explicitly: this module uses
    # `from __future__ import annotations`, which stringifies the type
    # hints pandas_udf would otherwise infer GROUPED_AGG from
    @pandas_udf("bigint", PandasUDFType.GROUPED_AGG)
    def wmedian(v, w):
        vv = v.to_numpy(dtype=np.int64)
        ww = w.to_numpy(dtype=np.int64)
        order = np.lexsort((ww, vv))  # (v, w) ascending — the oracle's order
        vv, ww = vv[order], ww[order]
        run = np.cumsum(ww)
        idx = int(np.searchsorted(2 * run, run[-1], side="left"))
        return int(vv[idx])

    # Spark disallows mixing a GROUPED_AGG pandas UDF with JVM
    # aggregates in one agg — the weight total is a pandas UDAF too
    @pandas_udf("bigint", PandasUDFType.GROUPED_AGG)
    def wsum(w):
        return int(w.to_numpy(dtype=np.int64).sum())

    e = t(spark, sf_dir, "events").select(
        "event_type",
        cents("value").alias("v"),
        (1 + F.col("event_id") % 3).cast("long").alias("w"),
    )
    return e.groupBy("event_type").agg(
        wmedian("v", "w").alias("weighted_median_c"),
        wsum("w").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Greedy max-coverage subset selection (submodular)
# ---------------------------------------------------------------------------

_MC_PICKS = 5


def _maxcov_oracle() -> str:
    """Unrolled greedy rounds; MATERIALIZED covered sets (each round
    reads the previous covered set twice: gain anti-join + union)."""
    steps = []
    for r in range(1, _MC_PICKS + 1):
        steps.append(f"""
    p{r} AS MATERIALIZED (
      SELECT cov.doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM cov
      WHERE NOT EXISTS (SELECT 1 FROM c{r - 1} x WHERE x.bg = cov.bg)
      GROUP BY cov.doc_id
      ORDER BY n_new DESC, cov.doc_id
      LIMIT 1
    ),
    c{r} AS MATERIALIZED (
      SELECT bg FROM c{r - 1}
      UNION
      SELECT cov.bg FROM cov JOIN p{r} USING (doc_id)
    )""")
    unions = "\n      UNION ALL\n".join(
        f"      SELECT CAST({r} AS BIGINT) AS pick_round, doc_id, n_new "
        f"FROM p{r}"
        for r in range(1, _MC_PICKS + 1)
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), cov AS MATERIALIZED (
      SELECT DISTINCT doc_id, b.bg FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM tk WHERE len(toks) >= 2
      ) b(doc_id, bg)
    ), c0 AS MATERIALIZED (SELECT CAST(NULL AS VARCHAR) AS bg WHERE false),
    {','.join(steps)},
    picks AS (
{unions}
    )
    SELECT pick_round, doc_id, n_new,
           CAST(SUM(n_new) OVER (ORDER BY pick_round
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS total_covered
    FROM picks
    """


@register(
    "select_greedy_max_coverage",
    _maxcov_oracle(),
    "Greedy max-coverage subset selection (the 1-1/e submodular "
    "baseline; Nemhauser et al. 1978) — the data-selection shape "
    "behind diverse-subset curation (facility location, coreset "
    "picks): each of 5 rounds picks the document covering the most "
    "NOT-YET-COVERED bigrams (ties to the smaller doc_id) and adds "
    "its bigrams to the covered set. Per round: one anti-join of the "
    "coverage table against the covered set + one gain aggregate + a "
    "1-row argmax — the covered set is the only state, and it only "
    "grows, so the unrolled-CTE oracle replays the exact prefix "
    "(pagerank doctrine). Reports marginal and cumulative coverage "
    "per pick — the diminishing-returns curve a curation team reads "
    "to choose the subset size.",
)
def select_greedy_max_coverage(spark, sf_dir):
    cov = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _toks_a().alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat(toks[i - 1], ' ', toks[i]))"
                )
            ).alias("bg"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    covered = None
    picks = None
    for r in range(1, _MC_PICKS + 1):
        remaining = (
            cov
            if covered is None
            else cov.join(covered, "bg", "left_anti")
        )
        gains = remaining.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_new")
        )
        pick = (
            gains.orderBy(F.desc("n_new"), F.asc("doc_id"))
            .limit(1)
            .select(
                F.lit(r).cast("long").alias("pick_round"),
                "doc_id",
                "n_new",
            )
            .localCheckpoint(eager=False)
        )
        picks = pick if picks is None else picks.unionAll(pick)
        newly = cov.join(
            pick.select("doc_id"), "doc_id", "left_semi"
        ).select("bg")
        covered = (
            newly
            if covered is None
            else covered.union(newly).distinct()
        ).localCheckpoint(eager=False)
    wc = W.orderBy("pick_round").rowsBetween(W.unboundedPreceding, 0)
    return picks.select(
        "pick_round",
        "doc_id",
        "n_new",
        F.sum("n_new").over(wc).cast("long").alias("total_covered"),
    )


# ---------------------------------------------------------------------------
# Backfill gap planner
# ---------------------------------------------------------------------------

_BF_USER_MOD = 31  # the monitored slice (sparse enough to have real gaps)


@register(
    "backfill_gap_plan",
    f"""
    WITH d AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day
      FROM events WHERE user_id % {_BF_USER_MOD} = 0
      GROUP BY 1, 2
    ), nxt AS (
      SELECT event_type, day,
             LEAD(day) OVER (PARTITION BY event_type ORDER BY day)
               AS next_day
      FROM d
    )
    SELECT event_type,
           CAST(day + 1 AS BIGINT) AS gap_start_day,
           CAST(next_day - 1 AS BIGINT) AS gap_end_day,
           CAST(next_day - day - 1 AS BIGINT) AS n_missing_days
    FROM nxt
    WHERE next_day > day + 1
    """,
    "Backfill gap planner — the ops query every partitioned ingest "
    "needs after an outage: per event type (on a monitored user "
    "slice), the distinct ingested days are scanned with one LEAD "
    "window, and every hole in the calendar becomes an explicit "
    "(gap_start, gap_end, n_days) BACKFILL RANGE — the exact "
    "arguments a replay job takes, not just a count of missing days. "
    "The inverse of activity_islands (ranges of ABSENCE, not "
    "presence), emitted as ranges so a 3-year outage is one row, not "
    "a thousand. One distinct-day aggregate (partition-pruned on a "
    "real lake) + one keyed window.",
)
def backfill_gap_plan(spark, sf_dir):
    d = (
        t(spark, sf_dir, "events")
        .where(F.col("user_id") % _BF_USER_MOD == 0)
        .select(
            "event_type",
            F.expr("(ts div 1000) div 86400000000").alias("day"),
        )
        .distinct()
    )
    wn = W.partitionBy("event_type").orderBy("day")
    nxt = d.withColumn("next_day", F.lead("day").over(wn))
    return nxt.where(F.col("next_day") > F.col("day") + 1).select(
        "event_type",
        (F.col("day") + 1).cast("long").alias("gap_start_day"),
        (F.col("next_day") - 1).cast("long").alias("gap_end_day"),
        (F.col("next_day") - F.col("day") - 1)
        .cast("long")
        .alias("n_missing_days"),
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimation from a key sample
# ---------------------------------------------------------------------------

_JC_SAMPLE_MOD = 16


@register(
    "join_cardinality_estimate",
    f"""
    WITH fa AS (
      SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS f
      FROM lineitem GROUP BY 1
    ), fb AS (
      SELECT s_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS f
      FROM supplier GROUP BY 1
    ), joined AS (
      SELECT fa.k, fa.f AS f_a, fb.f AS f_b,
             {_H32_DUCK.format(s="CAST(fa.k AS VARCHAR)")} AS h
      FROM fa JOIN fb USING (k)
    )
    SELECT CAST(SUM(f_a * f_b) AS BIGINT) AS exact_rows,
           CAST({_JC_SAMPLE_MOD} * SUM(CASE WHEN h % {_JC_SAMPLE_MOD} = 0
                    THEN f_a * f_b ELSE 0 END) AS BIGINT) AS est_rows,
           CAST(SUM(CASE WHEN h % {_JC_SAMPLE_MOD} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS sampled_keys,
           CAST(COUNT(*) AS BIGINT) AS join_keys
    FROM joined
    """,
    "Join-cardinality estimation from a deterministic key sample — "
    "what a cost-based optimizer does with sampled statistics before "
    "choosing a join strategy, made auditable: the exact equi-join "
    "output size is sum(f_a * f_b) over matching keys, the estimate "
    "scales the same sum over a hash-chosen 1/16 key subset (the "
    "HASH sample, not a row sample — per-key frequency pairs must "
    "stay intact or the product is biased), and both land in one "
    "result row for side-by-side error reading. At 100 TB the "
    "frequency tables come from statistics collection, never the "
    "fact scan; the estimate costs 1/16 of the stats join.",
)
def join_cardinality_estimate(spark, sf_dir):
    fa = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("f_a"))
    )
    fb = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_suppkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("f_b"))
    )
    joined = fa.join(fb, "k").select(
        "k",
        "f_a",
        "f_b",
        F.expr(_H32_SPARK.format(s="cast(k as string)")).alias("h"),
    )
    return joined.agg(
        F.sum(F.col("f_a") * F.col("f_b")).cast("long").alias("exact_rows"),
        (
            _JC_SAMPLE_MOD
            * F.sum(
                F.when(
                    F.col("h") % _JC_SAMPLE_MOD == 0,
                    F.col("f_a") * F.col("f_b"),
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("est_rows"),
        F.sum(F.when(F.col("h") % _JC_SAMPLE_MOD == 0, 1).otherwise(0))
        .cast("long")
        .alias("sampled_keys"),
        F.count(F.lit(1)).cast("long").alias("join_keys"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast error audit
# ---------------------------------------------------------------------------

_SN_LAG_DAYS = 7


@register(
    "forecast_seasonal_naive_mae",
    f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, day, v,
             LAG(v, {_SN_LAG_DAYS}) OVER (PARTITION BY event_type
                                          ORDER BY day) AS pred
      FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored_days,
           CAST(SUM(abs(v - pred)) AS BIGINT) AS total_abs_err_c,
           CAST(SUM(abs(v - pred)) // COUNT(*) AS BIGINT) AS mae_c,
           CAST((1000000 * SUM(abs(v - pred))) // SUM(abs(v)) AS BIGINT)
             AS wape_ppm
    FROM lagged WHERE pred IS NOT NULL
    GROUP BY event_type
    """,
    "Seasonal-naive forecast error audit — the baseline every demand "
    "model must beat before it ships (M-competition doctrine): "
    "predict each day's per-type cent volume by the SAME WEEKDAY "
    "LAST WEEK (lag 7 on the daily series), score MAE in cents and "
    "WAPE in ppm. Days with no 7-day-old counterpart are excluded, "
    "not zero-filled (an honest scorecard doesn't invent a prior "
    "week). NOTE: lag-7 on ROW position equals lag-7 on the calendar "
    "only while the daily series is gap-free — true for the full "
    "event stream here; a gappy series would first pass through "
    "backfill_gap_plan's calendar spine. One daily aggregate + one "
    "keyed window; the forecast-evaluation sibling of "
    "holt_linear_fold's model side.",
)
def forecast_seasonal_naive_mae(spark, sf_dir):
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
    lagged = daily.withColumn("pred", F.lag("v", _SN_LAG_DAYS).over(wl))
    return (
        lagged.where(F.col("pred").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored_days"),
            F.sum(F.abs(F.col("v") - F.col("pred")))
            .cast("long")
            .alias("total_abs_err_c"),
            F.expr(
                "CAST(SUM(abs(v - pred)) div COUNT(*) AS BIGINT)"
            ).alias("mae_c"),
            F.expr(
                "CAST((1000000 * SUM(abs(v - pred))) div SUM(abs(v)) "
                "AS BIGINT)"
            ).alias("wape_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------

_RFM_Q = 5


@register(
    "rfm_segmentation",
    f"""
    WITH per_user AS (
      SELECT user_id,
             MAX(epoch_us(ts)) AS last_us,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS monetary_c
      FROM events GROUP BY user_id
    ), anchor AS (SELECT MAX(last_us) AS now_us FROM per_user),
    rfm AS (
      SELECT u.user_id,
             CAST((a.now_us - u.last_us) // 86400000000 AS BIGINT)
               AS recency_days,
             u.frequency, u.monetary_c,
             NTILE({_RFM_Q}) OVER (ORDER BY a.now_us - u.last_us,
                                   u.user_id) AS r_score,
             NTILE({_RFM_Q}) OVER (ORDER BY u.frequency DESC, u.user_id)
               AS f_score,
             NTILE({_RFM_Q}) OVER (ORDER BY u.monetary_c DESC, u.user_id)
               AS m_score
      FROM per_user u, anchor a
    )
    SELECT user_id, recency_days, frequency, monetary_c,
           CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(100 * r_score + 10 * f_score + m_score AS BIGINT)
             AS rfm_segment
    FROM rfm
    """,
    "RFM segmentation (Hughes 1994, the recency/frequency/monetary "
    "quintile scoring CRM pipelines still run): per user, days since "
    "last event (anchored to the CORPUS max — no wall clock, so the "
    "result is a pure function of the data), event count, and cent "
    "volume, each cut into quintiles by NTILE with deterministic "
    "user_id tie-breaks (score 1 = best: most recent / most frequent "
    "/ highest spend), concatenated into the classic 3-digit segment "
    "code. One user aggregate + three dimension-table windows; the "
    "1-row anchor is a broadcast constant-append. The analytics "
    "sibling of retention_cohorts.",
)
def rfm_segmentation(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    per_user = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(F.expr("ts div 1000")).alias("last_us"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(cents("value")).cast("long").alias("monetary_c"),
        )
    )
    anchor = per_user.agg(F.max("last_us").alias("now_us"))
    base = per_user.crossJoin(F.broadcast(anchor))
    wr = W.orderBy(F.expr("now_us - last_us"), F.asc("user_id"))
    wf = W.orderBy(F.desc("frequency"), F.asc("user_id"))
    wm = W.orderBy(F.desc("monetary_c"), F.asc("user_id"))
    rfm = base.select(
        "user_id",
        F.expr("(now_us - last_us) div 86400000000").alias("recency_days"),
        "frequency",
        "monetary_c",
        F.ntile(_RFM_Q).over(wr).cast("long").alias("r_score"),
        F.ntile(_RFM_Q).over(wf).cast("long").alias("f_score"),
        F.ntile(_RFM_Q).over(wm).cast("long").alias("m_score"),
    )
    return rfm.withColumn(
        "rfm_segment",
        (
            100 * F.col("r_score") + 10 * F.col("f_score") + F.col("m_score")
        ).cast("long"),
    )


# ---------------------------------------------------------------------------
# Overdispersion (variance-to-mean) audit of daily counts
# ---------------------------------------------------------------------------


@register(
    "dq_overdispersion_vmr",
    """
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(x * x) AS BIGINT) AS s2
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n, s1 AS total_events,
           CAST((n * s2 - s1 * s1) AS BIGINT) AS var_num_scaled,
           CAST((1000000 * (n * s2 - s1 * s1)) // ((n - 1) * s1) AS BIGINT)
             AS vmr_ppm
    FROM m WHERE n > 1
    """,
    "Overdispersion audit — the Poisson-assumption check run before "
    "anyone fits a count model or sets a rate alert: per event type, "
    "the variance-to-mean ratio of DAILY counts as exact integers "
    "(VMR = (n*S2 - S1^2) / ((n-1)*S1), every term a BIGINT moment "
    "sum, no float variance), in ppm: ~1e6 means Poisson-like, far "
    "above means bursty/clumped days (alerts need wider bands), far "
    "below means suspiciously uniform (synthetic or throttled data — "
    "which is exactly what this corpus' generator produces, and the "
    "behavioral test pins). One daily aggregate + one moment "
    "aggregate; the count-model sibling of dq_benford_digits.",
)
def dq_overdispersion_vmr(spark, sf_dir):
    daily = (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("(ts div 1000) div 86400000000").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    return m.where(F.col("n") > 1).select(
        "event_type",
        "n",
        F.col("s1").alias("total_events"),
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
        .cast("long")
        .alias("var_num_scaled"),
        F.expr(
            "CAST((1000000 * (n * s2 - s1 * s1)) div ((n - 1) * s1) "
            "AS BIGINT)"
        ).alias("vmr_ppm"),
    )


# ---------------------------------------------------------------------------
# A-priori level-wise 3-itemset mining
# ---------------------------------------------------------------------------

# Round 7: min-support is CORPUS-RELATIVE (ppm of the document count),
# not absolute — with absolute thresholds a 10x corpus makes 10x more
# pairs "frequent" in relative terms and the candidate self-join
# explodes (measured 26x at 10x data in the r7 scale sweep; 1.4x after
# this change). 60000/54000 ppm reproduce the old 300/270 absolute
# thresholds exactly at sf0.1 (5000 docs).
_AP_PAIR_PPM = 60_000     # pair min-support: 6% of corpus
_AP_TRIPLE_PPM = 54_000   # triple min-support: 5.4% of corpus


@register(
    "apriori_triple_itemsets",
    f"""
    WITH nd AS (
      SELECT (CAST({_AP_PAIR_PPM} AS BIGINT) * COUNT(*)) // 1000000
               AS pair_min,
             (CAST({_AP_TRIPLE_PPM} AS BIGINT) * COUNT(*)) // 1000000
               AS triple_min
      FROM documents
    ), dt AS (
      SELECT doc_id, list_distinct({_TOKS_SQL}) AS v FROM documents
    ), item AS (
      SELECT doc_id, unnest(v) AS tok FROM dt
    ), pairs AS (
      SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      FROM item a JOIN item b
        ON a.doc_id = b.doc_id AND a.tok < b.tok
    ), fp AS (
      SELECT w1, w2 FROM pairs GROUP BY 1, 2
      HAVING COUNT(*) >= (SELECT pair_min FROM nd)
    ), cand AS (
      SELECT p1.w1 AS a, p1.w2 AS b, p2.w2 AS c3
      FROM fp p1 JOIN fp p2 ON p1.w1 = p2.w1 AND p1.w2 < p2.w2
    ), pruned AS (
      SELECT cand.a, cand.b, cand.c3
      FROM cand JOIN fp ON fp.w1 = cand.b AND fp.w2 = cand.c3
    ), tri AS (
      SELECT i1.doc_id, p.a, p.b, p.c3
      FROM pruned p
      JOIN item i1 ON i1.tok = p.a
      JOIN item i2 ON i2.doc_id = i1.doc_id AND i2.tok = p.b
      JOIN item i3 ON i3.doc_id = i1.doc_id AND i3.tok = p.c3
    )
    SELECT a AS w1, b AS w2, c3 AS w3,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM tri GROUP BY 1, 2, 3
    HAVING COUNT(*) >= (SELECT triple_min FROM nd)
    """,
    "A-priori level-wise 3-itemset mining (Agrawal & Srikant 1994): "
    "frequent pairs (min-support 6% of the corpus — RELATIVE, the "
    "r7 scale fix: absolute thresholds made the candidate join "
    "super-linear, 26x at 10x data; relative ones hold it at ~1x) "
    "SELF-JOIN on a shared prefix to generate candidate triples, "
    "the downward-closure prune drops any candidate whose third "
    "face-pair is infrequent (the step that makes A-priori feasible "
    "— candidates fall from C(V,3) to only those with all three "
    "frequent faces), and survivors are counted against the corpus "
    "at 5.4% min-support. "
    "Round 8: support counting is per-doc COMBINATION GENERATION, "
    "not an item-table join. Each doc's token list is intersected "
    "with the frequent-token array (level 1) / candidate-token "
    "array (level 3) — both dimension-sized 1-row broadcasts, "
    "bounded by the 6% floor — and sorted C(f,2) / C(f,3) combos "
    "are emitted map-side by nested transform/slice (JVM codegen, "
    "zero joins on the exploded item table). The r7 shape joined "
    "pruned candidates back to item THREE times; with a dense "
    "vocabulary every candidate token matched ~every doc (~166M "
    "intermediate rows at sf1) and the stage measured 10.1 s -> "
    "165 s at 10x data. The combo explode is linear in docs "
    "(measured in-round: see PERF.md). "
    "This is the LEVEL-WISE shape token_cooccurrence_pairs "
    "(level 2) feeds: candidate generation and pruning touch only "
    "the dimension-sized frequent-pair table; triple supports are "
    "a broadcast semi-join + one partial-aggregated groupBy. "
    "Basket analysis' step beyond pairwise lift "
    "(basket_brand_lift).",
)
def apriori_triple_itemsets(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # corpus-relative min-supports as a 1-row broadcast (constant-append)
    nd = docs.agg(
        F.expr(
            f"CAST(({_AP_PAIR_PPM} * COUNT(*)) div 1000000 AS BIGINT)"
        ).alias("pair_min"),
        F.expr(
            f"CAST(({_AP_TRIPLE_PPM} * COUNT(*)) div 1000000 AS BIGINT)"
        ).alias("triple_min"),
    )
    toks = F.array_distinct(_toks_a())
    # Level 1: doc-frequency per token -> frequent singletons as ONE
    # sorted array row (downward closure: a frequent pair's members are
    # frequent, so pre-filtering docs to F1 tokens leaves fp unchanged).
    f1row = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(nd))
        .where(F.col("c") >= F.col("pair_min"))
        .agg(F.sort_array(F.collect_list("tok")).alias("f1arr"))
    )
    # Level 2: per-doc sorted F1-token array -> map-side C(f,2) combos.
    # The combo explode is the hot stage; the parquet scan may plan few
    # input splits, so round-robin repartition the SLIM per-doc array
    # projection (ints/short strings, never text) to spread generation
    # across all cores — at 100 TB this shuffles only dimension-bounded
    # arrays, one row per doc.
    par = spark.sparkContext.defaultParallelism
    pair_combos = (
        docs.crossJoin(F.broadcast(f1row))
        .select(F.sort_array(F.array_intersect(toks, "f1arr")).alias("v"))
        .repartition(par)
        .select(
            F.explode(
                F.expr(
                    """flatten(transform(v, (x1, i) ->
                         transform(slice(v, i + 2, size(v)), x2 ->
                           named_struct('w1', x1, 'w2', x2))))"""
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    fp = (
        pair_combos.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(nd))
        .where(F.col("c") >= F.col("pair_min"))
        .select("w1", "w2")
        .localCheckpoint(eager=False)
    )
    p1, p2 = fp.alias("p1"), fp.alias("p2")
    cand = p1.join(
        p2,
        (F.col("p1.w1") == F.col("p2.w1"))
        & (F.col("p1.w2") < F.col("p2.w2")),
    ).select(
        F.col("p1.w1").alias("a"),
        F.col("p1.w2").alias("b"),
        F.col("p2.w2").alias("c3"),
    )
    face = fp.select(F.col("w1").alias("fb"), F.col("w2").alias("fc"))
    pruned = cand.join(
        face,
        (F.col("b") == F.col("fb")) & (F.col("c3") == F.col("fc")),
        "left_semi",
    ).localCheckpoint(eager=False)
    # Level 3: candidate-token array (1 row); per-doc combos are packed
    # LONG keys (token -> index in the sorted candidate array, triple ->
    # (i*V + j)*V + k) so the 100M+-row combo stream is generated,
    # probed, and aggregated as single longs, never 3-string structs
    # (measured 2.4x on the whole entry at sf1). Broadcast semi-join to
    # pruned-candidate keys BEFORE the aggregate so the hash table and
    # shuffle carry only candidate triples.
    candrow = pruned.agg(
        F.sort_array(
            F.array_distinct(
                F.flatten(F.collect_list(F.array("a", "b", "c3")))
            )
        ).alias("candarr")
    )
    tri_keys = (
        docs.crossJoin(F.broadcast(candrow))
        .select(
            F.expr(
                # sorted candidate-token indices present in the doc
                # (candarr order IS sorted token order)
                """filter(
                     transform(candarr, (x, i) ->
                       IF(array_contains({toks}, x), i, -1)),
                     y -> y >= 0)""".format(toks="array_distinct(" + _TOKS_A_SQL + ")")
            ).alias("vi"),
            F.size("candarr").cast("long").alias("nv"),
        )
        .repartition(par)
        .select(
            F.explode(
                F.expr(
                    """flatten(flatten(transform(vi, (a1, i) ->
                         transform(slice(vi, i + 2, size(vi)), (a2, j) ->
                           transform(slice(vi, i + j + 3, size(vi)), a3 ->
                             (CAST(a1 AS BIGINT) * nv + a2) * nv + a3)))))"""
                )
            ).alias("k")
        )
    )
    pruned_keys = pruned.crossJoin(F.broadcast(candrow)).select(
        F.col("a").alias("w1"),
        F.col("b").alias("w2"),
        F.col("c3").alias("w3"),
        F.expr(
            """(CAST(array_position(candarr, a) - 1 AS BIGINT)
                  * size(candarr) + (array_position(candarr, b) - 1))
                  * size(candarr) + (array_position(candarr, c3) - 1)"""
        ).alias("k"),
    )
    return (
        tri_keys.join(
            F.broadcast(pruned_keys.select("k")), ["k"], "left_semi"
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .join(F.broadcast(pruned_keys), ["k"])
        .crossJoin(F.broadcast(nd))
        .where(F.col("support") >= F.col("triple_min"))
        .select("w1", "w2", "w3", "support")
    )


# ---------------------------------------------------------------------------
# DBSCAN point classification on the spatial grid
# ---------------------------------------------------------------------------

_DB_MIN_PTS = 3  # neighbors (excluding self) required for a core point


@register(
    "geo_dbscan_core_points",
    f"""
    WITH pts AS (
      SELECT user_id,
             {_H32_DUCK.format(s="'x:' || CAST(user_id AS VARCHAR)")}
               % {_GEO_SPAN} AS x,
             {_H32_DUCK.format(s="'y:' || CAST(user_id AS VARCHAR)")}
               % {_GEO_SPAN} AS y
      FROM (SELECT DISTINCT user_id FROM events)
    ), nb AS (
      SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_neighbors
      FROM pts a JOIN pts b
        ON a.user_id <> b.user_id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= {_GEO_R2}
      GROUP BY a.user_id
    ), lab AS (
      SELECT p.user_id, COALESCE(nb.n_neighbors, 0) AS n_neighbors,
             CASE WHEN COALESCE(nb.n_neighbors, 0) >= {_DB_MIN_PTS}
                  THEN 'core' ELSE NULL END AS is_core
      FROM pts p LEFT JOIN nb ON nb.user_id = p.user_id
    ), border AS (
      SELECT DISTINCT a.user_id
      FROM pts a
      JOIN lab c ON c.is_core = 'core' AND c.user_id <> a.user_id
      JOIN pts cp ON cp.user_id = c.user_id
      WHERE (a.x - cp.x) * (a.x - cp.x) + (a.y - cp.y) * (a.y - cp.y)
            <= {_GEO_R2}
    )
    SELECT l.user_id, l.n_neighbors,
           CASE WHEN l.is_core = 'core' THEN 'core'
                WHEN b.user_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS label
    FROM lab l LEFT JOIN border b ON b.user_id = l.user_id
    """,
    "DBSCAN point classification (Ester et al. 1996, step 1 of "
    "density clustering) over the same hash-derived plane as "
    "geo_grid_spatial_join: a point is CORE with >= 3 in-radius "
    "neighbors, BORDER if in some core point's radius without being "
    "core itself, NOISE otherwise — the density labels that feed the "
    "cluster-expansion step (which is connected components over core "
    "points: operators/components.py, already in the engine). The "
    "Spark side reuses the grid 3x3 neighborhood probe for BOTH the "
    "neighbor count and the border test, so nothing is all-pairs; "
    "the oracle replays the quadratic definition. Together the three "
    "entries are a full distributed DBSCAN: grid join -> labels -> "
    "CC expansion.",
)
def geo_dbscan_core_points(spark, sf_dir):
    users = t(spark, sf_dir, "events").select("user_id").distinct()
    pts = users.select(
        "user_id",
        (
            F.expr(
                _H32_SPARK.format(s="concat('x:', cast(user_id as string))")
            )
            % _GEO_SPAN
        ).alias("x"),
        (
            F.expr(
                _H32_SPARK.format(s="concat('y:', cast(user_id as string))")
            )
            % _GEO_SPAN
        ).alias("y"),
    ).localCheckpoint(eager=False)
    home = pts.select(
        F.col("user_id").alias("ub"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.expr(f"x div {_GEO_CELL}").alias("cx"),
        F.expr(f"y div {_GEO_CELL}").alias("cy"),
    )
    probes = pts.select(
        F.col("user_id").alias("ua"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(-1, 1), i ->
                      transform(sequence(-1, 1), j ->
                        struct(x div {_GEO_CELL} + i AS cx,
                               y div {_GEO_CELL} + j AS cy))))"""
            )
        ).alias("c"),
    ).select(
        "ua", "xa", "ya", F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy")
    )
    in_radius = (
        probes.join(home, ["cx", "cy"])
        .where(F.col("ua") != F.col("ub"))
        .where(
            (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            <= _GEO_R2
        )
        .select("ua", "ub")
        .localCheckpoint(eager=False)
    )
    nb = in_radius.groupBy("ua").agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors")
    )
    lab = pts.select("user_id").join(
        nb, pts["user_id"] == nb["ua"], "left"
    ).select(
        "user_id",
        F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"),
    )
    cores = lab.where(F.col("n_neighbors") >= _DB_MIN_PTS).select(
        F.col("user_id").alias("core_id")
    )
    # border = any point in a core's radius (pairs already computed)
    border = (
        in_radius.join(
            cores, in_radius["ub"] == cores["core_id"], "left_semi"
        )
        .select(F.col("ua").alias("b_id"))
        .distinct()
    )
    return lab.join(
        border, lab["user_id"] == border["b_id"], "left"
    ).select(
        "user_id",
        "n_neighbors",
        F.when(F.col("n_neighbors") >= _DB_MIN_PTS, "core")
        .when(F.col("b_id").isNotNull(), "border")
        .otherwise("noise")
        .alias("label"),
    )


# ---------------------------------------------------------------------------
# Multimodal: integer Sobel edge energy over synthetic 4x4 PPM assets
# ---------------------------------------------------------------------------

_SOBEL_W = 4


def _sobel_oracle() -> str:
    """Replays the 4x4 decode + every Sobel tap in pure SQL: the pixel
    bytes are the same (doc_id*7 + i*13) % 256 formula the Spark side
    encodes into the P6 payload."""
    W = _SOBEL_W

    def byte(i: int) -> str:
        return f"((doc_id * 7 + {i} * 13) % 256)"

    def gray(p: int) -> str:
        return (
            f"(({byte(3 * p)} + {byte(3 * p + 1)} + {byte(3 * p + 2)})"
            " // 3)"
        )

    def g(x: int, y: int) -> str:
        return f"g{y * W + x}"

    gdefs = ", ".join(f"{gray(p)} AS g{p}" for p in range(W * W))
    taps = []
    for y in range(1, W - 1):
        for x in range(1, W - 1):
            gx = (
                f"(-{g(x-1,y-1)} + {g(x+1,y-1)} - 2*{g(x-1,y)}"
                f" + 2*{g(x+1,y)} - {g(x-1,y+1)} + {g(x+1,y+1)})"
            )
            gy = (
                f"(-{g(x-1,y-1)} - 2*{g(x,y-1)} - {g(x+1,y-1)}"
                f" + {g(x-1,y+1)} + 2*{g(x,y+1)} + {g(x+1,y+1)})"
            )
            taps.append(f"(abs({gx}) + abs({gy}))")
    energy = " + ".join(taps)
    maxg = f"GREATEST({', '.join(taps)})"
    return f"""
    WITH px AS (
      SELECT CAST(doc_id AS VARCHAR) AS asset_id, {gdefs}
      FROM documents
    )
    SELECT asset_id,
           CAST({(W - 2) * (W - 2)} AS BIGINT) AS n_interior,
           CAST({energy} AS BIGINT) AS edge_energy,
           CAST({maxg} AS BIGINT) AS max_grad
    FROM px
    """


@register(
    "multimodal_image_sobel",
    _sobel_oracle(),
    "Multimodal integer Sobel edge energy: synthetic 4x4 P6 assets "
    "(deterministic byte formula), decoded by the REAL pure-Python "
    "PPM parser, convolved with the 3x3 Sobel Gx/Gy kernels over the "
    "valid interior — energy = sum(|gx|+|gy|), plus the max "
    "single-pixel gradient. The blur/structure screen run before the "
    "embedding pass (near-zero energy = flat or defocused asset). "
    "All-integer taps, so the oracle replays the ENTIRE convolution "
    "pixel-for-pixel; Arrow mapInPandas with the module's shared "
    "corrupt-asset quarantine policy. Scale shape: one pass over the "
    "binary column, per-asset O(pixels) work, no shuffle.",
)
def multimodal_image_sobel(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        image_sobel_energy,
    )

    W = _SOBEL_W
    pixel_hex = F.concat(
        *[
            F.lpad(F.hex((F.col("doc_id") * 7 + i * 13) % 256), 2, "0")
            for i in range(3 * W * W)
        ]
    )
    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.concat(
            F.encode(F.lit(f"P6\n{W} {W}\n255\n"), "utf-8"),
            F.unhex(pixel_hex),
        ).alias("content"),
    )
    return image_sobel_energy(media)


# ---------------------------------------------------------------------------
# Multimodal: audio zero-crossing rate
# ---------------------------------------------------------------------------


def _zcr_oracle() -> str:
    """Replays the 4 synthetic PCM16 samples and the sign-flip count."""

    def s(i: int) -> str:
        return f"((doc_id * 13 + {i} * 37) % 2048 - 1024)"

    def sgn(expr: str) -> str:
        return f"(CASE WHEN {expr} >= 0 THEN 1 ELSE -1 END)"

    flips = " + ".join(
        f"(CASE WHEN {sgn(s(i))} <> {sgn(s(i + 1))} THEN 1 ELSE 0 END)"
        for i in range(3)
    )
    energy = " + ".join(f"abs({s(i)})" for i in range(4))
    return f"""
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST(4 AS BIGINT) AS n_samples,
           CAST({flips} AS BIGINT) AS zero_crossings,
           CAST({energy} AS BIGINT) AS abs_energy
    FROM documents
    """


@register(
    "multimodal_audio_zcr",
    _zcr_oracle(),
    "Multimodal audio zero-crossing rate + integer absolute energy: "
    "the same synthetic PCM16 WAV assets as the silence trim, decoded "
    "by the REAL chunk-walking WAV parser, reduced to the sign-flip "
    "count (sign(0) counted non-negative — the convention is stated "
    "and replayed) and sum(|s|) — the voiced/unvoiced + silence "
    "screen of speech preprocessing, in exact integers. One Arrow "
    "pass over the binary column, shared quarantine policy, no "
    "shuffle.",
)
def multimodal_audio_zcr(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog_ext import (
        _wav_header_hex,
    )
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        audio_zero_crossings,
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
    return audio_zero_crossings(media)


# ---------------------------------------------------------------------------
# Sequence-completeness audit (dup / missing surrogate keys)
# ---------------------------------------------------------------------------


@register(
    "dq_sequence_audit",
    """
    WITH b AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
             CAST(MIN(event_id) AS BIGINT) AS min_id,
             CAST(MAX(event_id) AS BIGINT) AS max_id
      FROM events
    )
    SELECT n_rows, n_ids, min_id, max_id,
           CAST(n_rows - n_ids AS BIGINT) AS n_duplicate_rows,
           CAST((max_id - min_id + 1) - n_ids AS BIGINT) AS n_missing_ids,
           CAST(CASE WHEN n_rows = n_ids
                      AND n_ids = max_id - min_id + 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_gap_free
    FROM b
    """,
    "Sequence-completeness audit over the event surrogate key — the "
    "first DQ check any CDC/ingest reconciliation runs: duplicate "
    "rows (rows minus distinct ids) and missing ids (span minus "
    "distinct) from ONE aggregate, no join against a generated "
    "spine — at 100 TB you cannot materialize a sequence table to "
    "anti-join, but min/max/count/distinct are one scan. A gap-free "
    "flag summarizes; the per-range remediation list is "
    "backfill_gap_plan's job once this flag trips.",
)
def dq_sequence_audit(spark, sf_dir):
    b = t(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("event_id").cast("long").alias("n_ids"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )
    return b.select(
        "n_rows",
        "n_ids",
        "min_id",
        "max_id",
        (F.col("n_rows") - F.col("n_ids")).cast("long").alias(
            "n_duplicate_rows"
        ),
        (F.col("max_id") - F.col("min_id") + 1 - F.col("n_ids"))
        .cast("long")
        .alias("n_missing_ids"),
        F.when(
            (F.col("n_rows") == F.col("n_ids"))
            & (F.col("n_ids") == F.col("max_id") - F.col("min_id") + 1),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_gap_free"),
    )


# ---------------------------------------------------------------------------
# Multimodal: per-pixel video motion (SAD)
# ---------------------------------------------------------------------------


def _motion_oracle() -> str:
    """Replays the 2-frame synthetic Y4M luma formulas and the per-pixel
    SAD between them."""

    def y(f: int, i: int) -> str:
        return f"((doc_id * 11 + {f} * 29 + {i} * 17) % 256)"

    sad = " + ".join(f"abs({y(1, i)} - {y(0, i)})" for i in range(4))
    mean_delta = (
        "abs(("
        + " + ".join(y(1, i) for i in range(4))
        + ") - ("
        + " + ".join(y(0, i) for i in range(4))
        + "))"
    )
    return f"""
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CAST(1 AS BIGINT) AS frame_idx,
           CAST({sad} AS BIGINT) AS sad,
           CAST({mean_delta} AS BIGINT) AS mean_abs_delta
    FROM documents
    """


@register(
    "multimodal_video_motion",
    _motion_oracle(),
    "Multimodal per-pixel video motion: the same synthetic 2-frame "
    "Y4M clips as multimodal_video_frames, decoded by the REAL Y4M "
    "parser, reduced to the luma-plane SAD between adjacent frames "
    "next to the |mean delta| the scene-cut detector uses — SAD "
    "catches translation motion that leaves the frame mean unchanged "
    "(pinned by a crafted behavioral test), which is why codecs and "
    "sampling heuristics estimate motion per-pixel, not per-mean. "
    "Oracle replays every |y1_i - y0_i| tap. One Arrow pass, shared "
    "quarantine policy, no shuffle.",
)
def multimodal_video_motion(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        video_motion_sad,
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
            F.encode(
                F.lit("YUV4MPEG2 W2 H2 F10:1 Ip A1:1 C420\n"), "utf-8"
            ),
            *frame_parts,
        ).alias("content"),
    )
    return video_motion_sad(media)


# ---------------------------------------------------------------------------
# SCD2 as-of lookup (time travel against the versioned dimension)
# ---------------------------------------------------------------------------

# probe instants as fractions of the corpus time span (ppm), resolved
# against min/max event time so the entry is scale-free
_SCD2_PROBE_PPM = (250000, 500000, 750000)
_SCD2_PROBE_VALUES = ", ".join(f"({p})" for p in _SCD2_PROBE_PPM)


@register(
    "scd2_asof_lookup",
    f"""
    WITH dim AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
             LEAD(CAST(epoch_us(ts) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS valid_to_us
      FROM events
    ), span AS (
      SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
             CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi
      FROM events
    ), probes AS (
      SELECT p.ppm,
             s.lo + ((s.hi - s.lo) * p.ppm) // 1000000 AS at_us
      FROM (SELECT * FROM (VALUES {_SCD2_PROBE_VALUES}) v(ppm)) p, span s
    )
    SELECT p.ppm AS probe_ppm, d.user_id, d.event_id AS version_event_id,
           d.event_type AS state_at_probe
    FROM probes p
    JOIN dim d
      ON d.valid_from_us <= p.at_us
     AND (d.valid_to_us IS NULL OR d.valid_to_us > p.at_us)
    """,
    "Time travel against the SCD2 dimension scd2_build produces: for "
    "three probe instants placed at fixed fractions of the corpus "
    "time span (scale-free — no literal timestamps to rot when "
    "testdata regenerates), resolve every user's version valid AT "
    "that instant via the half-open [valid_from, valid_to) interval "
    "predicate — the point-in-time dimension lookup every "
    "fact-to-history join runs. The open-ended current version "
    "(NULL valid_to) matches any probe after its start. Interval "
    "containment on a versioned dimension is the j6_asof_join "
    "family restated as SCD2 time travel; the 3-row probe spine is "
    "a broadcast constant.",
)
def scd2_asof_lookup(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    wv = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    dim = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(wv).alias("valid_to_us"),
    )
    span = ev.agg(
        F.min("ts_us").cast("long").alias("lo"),
        F.max("ts_us").cast("long").alias("hi"),
    )
    probes = (
        spark.createDataFrame(
            [(p,) for p in _SCD2_PROBE_PPM], "ppm long"
        )
        .crossJoin(F.broadcast(span))
        .select(
            "ppm",
            F.expr("lo + ((hi - lo) * ppm) div 1000000").alias("at_us"),
        )
    )
    return dim.join(
        F.broadcast(probes),
        (F.col("valid_from_us") <= F.col("at_us"))
        & (
            F.col("valid_to_us").isNull()
            | (F.col("valid_to_us") > F.col("at_us"))
        ),
    ).select(
        F.col("ppm").alias("probe_ppm"),
        "user_id",
        F.col("event_id").alias("version_event_id"),
        F.col("event_type").alias("state_at_probe"),
    )


