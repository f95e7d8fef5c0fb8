"""Query catalog: every SURVEY.md §2 operator expressed on the driver's
TPC-H-ish tables, paired with the DuckDB oracle SQL the driver compares
against (row-count + schema + order-insensitive value hash at sf0.01).

Conventions (driver contract, __spark_entry__.py docstring):
* every computed column aliased identically in Spark and SQL;
* float aggregates rounded identically on both sides (hash stability);
* DuckDB SUM(BIGINT) returns HUGEINT -> always CAST(... AS BIGINT) in the
  oracle to match Spark's long;
* queries with no SQL equivalent (LSH, SimHash, ...) set ``oracle=None``
  and get the driver's weaker rows-only check.

Each entry cites the reference operator id (SURVEY §2) it demonstrates.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.functions.durations import (
    iso8601_duration_seconds,
)
from youtube_trending_data_pipeline_spark.functions.vectors import cosine_similarity
from youtube_trending_data_pipeline_spark.operators.mode import mode_per_group
from youtube_trending_data_pipeline_spark.operators.topk import top_k_per_group


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
        # generations and plain TIMESTAMP(MICROS) in others. The whole
        # catalog (and every DuckDB oracle, via epoch_ns(ts)) computes on
        # epoch-NANOS longs, so normalize at the scan regardless of the
        # physical type:
        #  * NANOS parquet -> long nanos directly (legacy conf);
        #  * MICROS parquet -> read as TIMESTAMP_NTZ, then wall-clock
        #    difference from the NTZ epoch — timestampdiff between two NTZ
        #    values never consults the session timezone, so driver-created
        #    sessions with any tz produce identical longs.
        for k, v in (
            ("spark.sql.legacy.parquet.nanosAsLong", "true"),
            ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
        ):
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # static-conf sessions: defaults already match
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return df.withColumn("ts", ts_nanos(dict(df.dtypes).get("ts", "")))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ts_nanos(ts_dtype: str, col: str = "ts") -> Column:
    """Expression normalizing an events ``ts`` column to epoch-NANOS long.

    No-op for long columns (TIMESTAMP(NANOS) parquet read under
    nanosAsLong); for TIMESTAMP_NTZ, a wall-clock NTZ difference from
    the NTZ epoch — session-timezone-independent, matching the DuckDB
    oracles' ``epoch_ns(ts)`` on the same naive values. A TIMESTAMP_LTZ
    column (UTC-adjusted parquet, or NTZ inference unavailable) must NOT
    go through ``cast(.. as timestamp_ntz)`` — that cast consults the
    session timezone and silently shifts every epoch in non-UTC sessions
    (ADVICE r4); ``unix_micros`` reads the stored micros with no tz
    consultation, which equals DuckDB's ``epoch_us`` on the same parquet
    either way it reads it. Unknown physical types fail loudly. Pure
    projection, so it also composes with Structured Streaming sources."""
    if ts_dtype == "timestamp_ntz":
        return F.expr(
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            f"cast({col} as timestamp_ntz)) * 1000L"
        )
    if ts_dtype == "timestamp":
        return F.unix_micros(F.col(col)) * F.lit(1000)
    if ts_dtype in ("bigint", "long", ""):
        return F.col(col)
    raise TypeError(
        f"events.{col} has unsupported physical dtype {ts_dtype!r}; "
        "expected bigint (nanosAsLong), timestamp_ntz, or timestamp"
    )


def ts_micros(ts_dtype: str, col: str = "ts") -> Column:
    """Epoch-MICROS long from an events ``ts`` column — exact integer
    derivation on every physical type (same LTZ/NTZ split as ts_nanos).
    NEVER divide epoch nanos by 1000 with ``/``: the double division
    loses precision above 2^53 and lands a micro off, which shifts
    session/window boundaries (observed as off-by-one session_start_us
    vs the oracle)."""
    if ts_dtype == "timestamp_ntz":
        return F.expr(
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            f"cast({col} as timestamp_ntz))"
        )
    if ts_dtype == "timestamp":
        return F.unix_micros(F.col(col))
    if ts_dtype in ("bigint", "long", ""):
        return F.expr(f"{col} div 1000")
    raise TypeError(
        f"events.{col} has unsupported physical dtype {ts_dtype!r}; "
        "expected bigint (nanosAsLong), timestamp_ntz, or timestamp"
    )


def event_day(ts_nanos: Column | str) -> Column:
    """UTC day of an epoch-nanos column, as DATE, via pure arithmetic
    (matches DuckDB ``CAST(ts AS DATE)`` on the naive timestamp)."""
    c = F.col(ts_nanos) if isinstance(ts_nanos, str) else ts_nanos
    # exact integral division (ADVICE r1): epoch-nanos (~1.7e18) exceeds
    # 2^53, so plain floor(double /) can mis-bucket a timestamp within
    # ~128 ns of midnight. floor gives a ±1 estimate; the two integer
    # comparisons (no precision loss) correct it.
    d = 86_400_000_000_000
    cl = c.cast("long")
    q0 = F.floor(cl / F.lit(d)).cast("long")
    q = (
        q0
        - F.when(q0 * F.lit(d) > cl, F.lit(1)).otherwise(F.lit(0))
        + F.when((q0 + F.lit(1)) * F.lit(d) <= cl, F.lit(1)).otherwise(F.lit(0))
    )
    return F.date_add(F.lit("1970-01-01").cast("date"), q.cast("int"))


def cents(col: Column | str) -> Column:
    """Exact integer cents from a 2-dp double column.

    Sums of BIGINT are exact and order-independent, so aggregates computed
    on cents then divided back to double are *bit-identical* between Spark
    and the DuckDB oracle regardless of partitioning/merge order — double
    summation is not. Every money/value aggregate in this catalog uses
    this; the oracle SQL mirrors it with CAST(ROUND(x*100) AS BIGINT).

    Corollary: ``ROUND(double, k)`` itself diverges between engines on
    half-way decimals (Spark rounds the shortest decimal representation:
    40.855 -> 40.86; DuckDB rounds the binary value 40.8549..9 -> 40.85),
    so fractional rounding is always expressed as *integer* rounding in a
    scaled space — ``ROUND(x * 10^k)`` then divide — where halves are
    exactly representable and both engines agree.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    # str = static DuckDB SQL; callable = lazily-GENERATED SQL (data-dependent
    # literals, e.g. PCA axes) invoked as oracle(sf_dir=None) at gate time;
    # None = rows-only driver check
    oracle: str | Callable[..., str] | None
    doc: str


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Scans / filters / projections (SURVEY §2.1, §2.2)
# ---------------------------------------------------------------------------


@register(
    "s5_scan_project",
    "SELECT c_custkey, c_mktsegment FROM customer",
    "S5: projected scan; Parquet column pruning (ing:135-137)",
)
def s5_scan_project(spark, sf_dir):
    return t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")


@register(
    "s6_scan_filter_eq",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem "
    "WHERE l_returnflag = 'R'",
    "S6/P3: equality-filtered scan; predicate pushdown (agg:55-56)",
)
def s6_scan_filter_eq(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


@register(
    "s7_scan_range",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'",
    "S7/P4: BETWEEN range scan (wk:24-29)",
)
def s7_scan_range(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate")
            .cast("date")
            .between(F.lit("1995-01-01").cast("date"), F.lit("1995-03-31").cast("date"))
        )
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "s8_existence_probe",
    "SELECT (COUNT(*) > 0) AS has_rows FROM orders "
    "WHERE CAST(o_orderdate AS DATE) = DATE '1995-01-01'",
    "S8/S9: existence probe; engine uses limit(1).isEmpty short-circuit (ing:47-55)",
)
def s8_existence_probe(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    probe = orders.where(F.col("o_orderdate").cast("date") == F.lit("1995-01-01").cast("date"))
    exists = not probe.limit(1).isEmpty()
    return spark.createDataFrame([(exists,)], "has_rows boolean")


@register(
    "p6_in_set",
    "SELECT o_orderkey, o_orderpriority FROM orders "
    "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')",
    "P6: membership predicate (ing:161)",
)
def p6_in_set(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
    )


@register(
    "p1_nested_extract",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k "
    "FROM events",
    "P1/F10: nested-JSON field extraction with cast (ing:160-178)",
)
def p1_nested_extract(spark, sf_dir):
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("prop_k"),
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "j1_anti_join",
    "SELECT c.c_custkey FROM customer c "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderstatus = 'P')",
    "J1: left anti-join — customers with no pending ('P') orders "
    "(ing:135-138,161-164). The probe side is restricted so the result is "
    "non-empty at every SF: a 0-row anti-join would pass the hash gate "
    "vacuously, verifying nothing.",
)
def j1_anti_join(spark, sf_dir):
    customer = t(spark, sf_dir, "customer")
    pending = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return customer.join(
        pending, customer.c_custkey == pending.o_custkey, "left_anti"
    ).select("c_custkey")


@register(
    "j2_semi_join",
    "SELECT c.c_custkey, c.c_mktsegment FROM customer c "
    "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderstatus = 'F')",
    "J2: left semi-join scope restriction (wk:39-41)",
)
def j2_semi_join(spark, sf_dir):
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@register(
    "j3_multiway_join",
    """
    SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS order_cnt,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    "J3: latent dim join (videos x channels, README.md:64) as fact x dim x dim; "
    "small dims broadcast",
)
def j3_multiway_join(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            (F.sum(cents("o_totalprice")) / 100.0).alias("revenue"),
        )
    )


@register(
    "j4_explode_tokens",
    "SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt "
    "FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) "
    "WHERE token <> '' GROUP BY token",
    "J4: demultiplex/explode (region map -> rows, ing:154-160) as token explode",
)
def j4_explode_tokens(spark, sf_dir):
    return (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@register(
    "a1_distinct",
    "SELECT DISTINCT c_mktsegment FROM customer",
    "A1: grouping-key discovery (agg:59)",
)
def a1_distinct(spark, sf_dir):
    return t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(q100) AS BIGINT) / 100.0 AS sum_qty,
           CAST(SUM(p100) AS BIGINT) / 100.0 AS sum_base_price,
           CAST(SUM(p100 * (100 - d100)) AS BIGINT) / 10000.0 AS sum_disc_price,
           CAST(SUM(p100 * (100 - d100) * (100 + t100)) AS BIGINT) / 1000000.0 AS sum_charge,
           CAST(ROUND(CAST(SUM(q100) AS BIGINT) / COUNT(*)) AS BIGINT) / 100.0 AS avg_qty,
           CAST(ROUND(CAST(SUM(p100) AS BIGINT) / COUNT(*)) AS BIGINT) / 100.0 AS avg_price,
           CAST(ROUND(CAST(SUM(d100) AS BIGINT) * 100.0 / COUNT(*)) AS BIGINT) / 10000.0 AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM (SELECT l_returnflag, l_linestatus,
                 CAST(ROUND(l_quantity * 100) AS BIGINT) AS q100,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p100,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS d100,
                 CAST(ROUND(l_tax * 100) AS BIGINT) AS t100
          FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02')
    GROUP BY l_returnflag, l_linestatus
    """,
    "A2-A4 flagship: per-group SUM/AVG/COUNT over lineitem (agg:65-76 analogue; "
    "TPC-H Q1 shape). Partial agg + single hash exchange.",
)
def q1_pricing_summary(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    pre = li.where(
        F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date")
    ).select(
        "l_returnflag",
        "l_linestatus",
        cents("l_quantity").alias("q100"),
        cents("l_extendedprice").alias("p100"),
        cents("l_discount").alias("d100"),
        cents("l_tax").alias("t100"),
    )
    n = F.count(F.lit(1))
    return pre.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum("q100") / 100.0).alias("sum_qty"),
        (F.sum("p100") / 100.0).alias("sum_base_price"),
        (F.sum(F.col("p100") * (100 - F.col("d100"))) / 10000.0).alias("sum_disc_price"),
        (
            F.sum(F.col("p100") * (100 - F.col("d100")) * (100 + F.col("t100")))
            / 1000000.0
        ).alias("sum_charge"),
        (F.round(F.sum("q100") / n).cast("long") / 100.0).alias("avg_qty"),
        (F.round(F.sum("p100") / n).cast("long") / 100.0).alias("avg_price"),
        (F.round(F.sum("d100") * 100.0 / n).cast("long") / 10000.0).alias("avg_disc"),
        n.alias("count_order"),
    )


@register(
    "a5_derived_guard",
    """
    SELECT event_type,
           CAST(SUM(v100) AS BIGINT) / 100.0 AS total_value,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CASE WHEN SUM(v100) > 0
                THEN CAST(ROUND(COUNT(*) * 10000000.0 / CAST(SUM(v100) AS BIGINT)) AS BIGINT) / 100.0
                ELSE 0.0 END AS events_per_kvalue
    FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v100 FROM events)
    GROUP BY event_type
    """,
    "A5: derived post-aggregate with zero-guard (engagement_ratio, agg:79-84)",
)
def a5_derived_guard(spark, sf_dir):
    pre = t(spark, sf_dir, "events").select("event_type", cents("value").alias("v100"))
    n = F.count(F.lit(1))
    return pre.groupBy("event_type").agg(
        (F.sum("v100") / 100.0).alias("total_value"),
        n.alias("n_events"),
        F.when(
            F.sum("v100") > 0,
            F.round(n * 10000000.0 / F.sum("v100")).cast("long") / 100.0,
        )
        .otherwise(F.lit(0.0))
        .alias("events_per_kvalue"),
    )


@register(
    "a6_mode_per_group",
    """
    SELECT user_id, event_type AS mode_event_type FROM (
      SELECT user_id, event_type, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY COUNT(*) DESC, event_type ASC) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
    "A6/W1: per-group mode with deterministic tie-break cnt DESC, value ASC "
    "(agg:87-88; declared deviation from pandas first-seen, SURVEY §7a)",
)
def a6_mode_per_group(spark, sf_dir):
    return mode_per_group(
        t(spark, sf_dir, "events"), ["user_id"], "event_type", out_col="mode_event_type"
    )


@register(
    "a8_a9_conditional_agg",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
           CAST(SUM(CASE WHEN event_type = 'click' THEN v100 ELSE 0 END) AS BIGINT) / 100.0
             AS click_value,
           CAST(ROUND(CAST(SUM(CASE WHEN event_type = 'view' THEN v100 END) AS BIGINT)
                 / SUM(CASE WHEN event_type = 'view' THEN 1 END)) AS BIGINT) / 100.0
             AS avg_view_value
    FROM (SELECT user_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS v100 FROM events)
    GROUP BY user_id
    """,
    "A8/A9: conditional SUM / conditional AVG with ROUND (wk:39-41)",
)
def a8_a9_conditional_agg(spark, sf_dir):
    is_click = F.col("event_type") == "click"
    is_view = F.col("event_type") == "view"
    pre = t(spark, sf_dir, "events").select(
        "user_id", "event_type", cents("value").alias("v100")
    )
    return pre.groupBy("user_id").agg(
        F.sum(F.when(is_click, 1).otherwise(0)).cast("long").alias("clicks"),
        (F.sum(F.when(is_click, F.col("v100")).otherwise(0)) / 100.0).alias(
            "click_value"
        ),
        (
            F.round(
                F.sum(F.when(is_view, F.col("v100"))) / F.sum(F.when(is_view, 1))
            ).cast("long")
            / 100.0
        ).alias("avg_view_value"),
    )


@register(
    "a10_count_distinct",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    "A10+: COUNT and COUNT DISTINCT per group (agg:30-34 extended)",
)
def a10_count_distinct(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "a12_rollup",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "A12: rollup grouping sets — free in Spark, absent in reference (SURVEY §2.4)",
)
def a12_rollup(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


@register(
    "domain_daily_insights",
    """
    WITH base AS (
      SELECT CAST(ts AS DATE) AS day, event_type, user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS v100
      FROM events
    ), agg AS (
      SELECT day,
             CAST(SUM(v100) AS BIGINT) / 100.0 AS total_value,
             CAST(ROUND(CAST(SUM(v100) AS BIGINT) / COUNT(*)) AS BIGINT) / 100.0
               AS average_value,
             CAST(MAX(v100) AS BIGINT) / 100.0 AS highest_value,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
             CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
                  THEN CAST(ROUND((SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                            + 2.0 * SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END))
                            * 100000.0
                            / SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)) AS BIGINT) / 100.0
                  ELSE 0.0 END AS engagement_ratio
      FROM base GROUP BY day
    ), mode_t AS (
      SELECT day, event_type AS top_event_type FROM (
        SELECT day, event_type,
               ROW_NUMBER() OVER (PARTITION BY day
                                  ORDER BY COUNT(*) DESC, event_type ASC) AS rn
        FROM base GROUP BY day, event_type
      ) WHERE rn = 1
    )
    SELECT a.*, m.top_event_type FROM agg a JOIN mode_t m USING (day)
    """,
    "Domain flagship shape on driver tables: the reference's gold "
    "daily_insights aggregation (A2-A6 + W1 + A5 guard, "
    "dags/trending_daily_aggregates.py:52-111) re-expressed over events — "
    "per-day sums/avg/max, conditional counts, guarded engagement ratio, "
    "modal type with deterministic tie-break, here as mode_per_group "
    "joined back. operators/insights.py::daily_insights computes the same "
    "rollup as one partial aggregate and a min_by fold.",
)
def domain_daily_insights(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.mode import mode_per_group

    ev = t(spark, sf_dir, "events").select(
        event_day("ts").alias("day"),
        "event_type",
        cents("value").alias("v100"),
    )
    n = F.count(F.lit(1))
    clicks = F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
    purchases = F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    views = F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
    agg = ev.groupBy("day").agg(
        (F.sum("v100") / 100.0).alias("total_value"),
        (F.round(F.sum("v100") / n).cast("long") / 100.0).alias("average_value"),
        (F.max("v100") / 100.0).alias("highest_value"),
        n.alias("n_events"),
        clicks.cast("long").alias("clicks"),
        purchases.cast("long").alias("purchases"),
        views.cast("long").alias("views"),
        F.when(
            views > 0,
            F.round((clicks + 2.0 * purchases) * 100000.0 / views).cast("long")
            / 100.0,
        )
        .otherwise(F.lit(0.0))
        .alias("engagement_ratio"),
    )
    top = mode_per_group(ev, ["day"], "event_type", out_col="top_event_type")
    return agg.join(top, "day")


# ---------------------------------------------------------------------------
# Windows / sorts / top-k (SURVEY §2.5, §2.6)
# ---------------------------------------------------------------------------


@register(
    "w_rank_lag_running",
    """
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER w AS order_seq,
           LAG(o_orderkey) OVER w AS prev_orderkey,
           CAST(SUM(p100) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
             AS running_spend
    FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS p100 FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "W-extension: row_number / lag / running sum (absent in reference, SURVEY §2.5)",
)
def w_rank_lag_running(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    pre = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", cents("o_totalprice").alias("p100")
    )
    return pre.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        (
            F.sum("p100").over(w.rowsBetween(Window.unboundedPreceding, 0)) / 100.0
        ).alias("running_spend"),
    )


@register(
    "w2_trailing_window",
    """
    SELECT event_id, user_id,
           CAST(ROUND(CAST(SUM(v100) OVER w AS BIGINT)
                / (COUNT(*) OVER w)) AS BIGINT) / 100.0 AS trailing_avg_value
    FROM (SELECT event_id, user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS v100
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "W2: trailing 7-row window per key (weekly trailing 7-day report, wk:24-27)",
)
def w2_trailing_window(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    pre = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", cents("value").alias("v100")
    )
    return pre.select(
        "event_id",
        "user_id",
        (
            F.round(F.sum("v100").over(w) / F.count(F.lit(1)).over(w)).cast("long")
            / 100.0
        ).alias("trailing_avg_value"),
    )


@register(
    "w_rank_suite",
    """
    SELECT c_custkey, c_mktsegment,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           CAST(ROUND(PERCENT_RANK() OVER w * 1000000) AS BIGINT) / 1000000.0 AS pct_rank,
           CAST(ROUND(CUME_DIST() OVER w * 1000000) AS BIGINT) / 1000000.0 AS cume,
           FIRST_VALUE(c_custkey) OVER w AS richest,
           LEAD(c_custkey) OVER w AS next_cust
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
    "W-extension: full ranking-function suite (rank/dense_rank/ntile/"
    "percent_rank/cume_dist/first_value/lead)",
)
def w_rank_suite(spark, sf_dir):
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        (F.round(F.percent_rank().over(w) * 1000000).cast("long") / 1000000.0).alias(
            "pct_rank"
        ),
        (F.round(F.cume_dist().over(w) * 1000000).cast("long") / 1000000.0).alias(
            "cume"
        ),
        F.first("c_custkey").over(w).alias("richest"),
        F.lead("c_custkey").over(w).alias("next_cust"),
    )


@register(
    "w3_weekly_rollup",
    """
    SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS weekly_revenue
    FROM orders GROUP BY 1
    """,
    "W2 generalized: calendar-week rollup (the reference's weekly report "
    "cadence, wk:24-27, as a date_trunc groupBy)",
)
def w3_weekly_rollup(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")) / 100.0).alias("weekly_revenue"),
        )
    )


@register(
    "l_topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal, rank FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
      FROM customer
    ) WHERE rank <= 5
    """,
    "L2/L3: top-k per group via row_number (trending top-20 analogue, ing:78)",
)
def l_topk_per_group(spark, sf_dir):
    return top_k_per_group(
        t(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey", "c_acctbal"),
        ["c_mktsegment"],
        [F.desc("c_acctbal"), F.asc("c_custkey")],
        k=5,
    )


@register(
    "l_global_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
    "L: global deterministic top-k (TakeOrderedAndProject, no full sort)",
)
def l_global_topk(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "l_global_sort",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
    ORDER BY o_orderdate ASC, o_orderkey ASC
    """,
    "L-extension: global total-order sort (range-partitioned exchange + "
    "per-partition sort — no single-node sort). Driver compares order-"
    "insensitively; the plan shape is the point.",
)
def l_global_sort(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    )


@register(
    "u1_union_all",
    """
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      SELECT l_returnflag FROM lineitem WHERE l_linenumber <= 2
      UNION ALL
      SELECT l_returnflag FROM lineitem WHERE l_linenumber > 2
    ) GROUP BY l_returnflag
    """,
    "U1: UNION ALL of splits (pd.concat, ing:140,181-184)",
)
def u1_union_all(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    lo = li.where(F.col("l_linenumber") <= 2).select("l_returnflag")
    hi = li.where(F.col("l_linenumber") > 2).select("l_returnflag")
    return lo.unionByName(hi).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "u2_except_intersect",
    """
    SELECT 'except' AS op, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      SELECT DISTINCT l_partkey FROM lineitem
      EXCEPT
      SELECT p_partkey FROM part WHERE p_size > 25
    )
    UNION ALL
    SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      SELECT DISTINCT l_partkey FROM lineitem
      INTERSECT
      SELECT p_partkey FROM part WHERE p_size > 25
    )
    """,
    "U2: EXCEPT / INTERSECT (set-membership difference, ing:138,161,164)",
)
def u2_except_intersect(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    big = (
        t(spark, sf_dir, "part")
        .where(F.col("p_size") > 25)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    ex = li.exceptAll(li.join(big, "l_partkey", "left_semi")).select(
        F.lit("except").alias("op")
    )
    inter = li.intersect(big).select(F.lit("intersect").alias("op"))
    return ex.unionByName(inter).groupBy("op").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "j5_outer_join",
    """
    SELECT c.c_custkey,
           CAST(COALESCE(o.order_cnt, 0) AS BIGINT) AS order_cnt,
           COALESCE(o.spend, 0.0) AS spend
    FROM customer c
    LEFT JOIN (SELECT o_custkey,
                      CAST(COUNT(*) AS BIGINT) AS order_cnt,
                      CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
                        AS spend
               FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
    """,
    "J-extension: left outer join with null-default fill (customers with and "
    "without orders; aggregate-then-join keeps the build side small)",
)
def j5_outer_join(spark, sf_dir):
    customer = t(spark, sf_dir, "customer")
    totals = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("order_cnt_raw"),
            (F.sum(cents("o_totalprice")) / 100.0).alias("spend_raw"),
        )
    )
    return customer.join(totals, "c_custkey", "left").select(
        "c_custkey",
        F.coalesce("order_cnt_raw", F.lit(0)).alias("order_cnt"),
        F.coalesce("spend_raw", F.lit(0.0)).alias("spend"),
    )


@register(
    "j6_asof_join",
    """
    WITH purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_event_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id,
           c.click_event_id AS asof_click_event_id
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "As-of join (operator Spark lacks): latest prior click per purchase. "
    "Union-merge formulation in operators/asof.py — one shuffle + local "
    "sort, no range explosion; oracle is DuckDB's native ASOF JOIN.",
)
def j6_asof_join(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.asof import as_of_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
    )
    out = as_of_join(
        purchases,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload_cols=["click_event_id"],
    )
    return out.select("event_id", "user_id", "asof_click_event_id")


@register(
    "j6c_asof_tolerance",
    """
    WITH purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_event_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id,
           CASE WHEN epoch_ns(p.ts) - epoch_ns(c.ts) <= 3600000000000
                THEN c.click_event_id END AS asof_click_event_id
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "As-of join with TOLERANCE (pandas merge_asof(tolerance=...) "
    "semantics, the attribution-window variant marketing pipelines "
    "actually run): latest prior click per purchase, but only if it "
    "happened within 1 hour — staler matches null out. The matched "
    "right timestamp rides inside the carried payload struct of the "
    "same single window pass (operators/asof.py), so tolerance costs "
    "no extra shuffle over j6. Oracle: DuckDB ASOF JOIN + the gap "
    "CASE on epoch nanos.",
)
def j6c_asof_tolerance(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.asof import as_of_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
    )
    out = as_of_join(
        purchases,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload_cols=["click_event_id"],
        tolerance=3_600_000_000_000,  # 1 hour in epoch-nanos units
    )
    return out.select("event_id", "user_id", "asof_click_event_id")


@register(
    "j7_range_join",
    """
    WITH buckets AS (
      SELECT CAST(b AS BIGINT) * 500 AS price_lo,
             CAST(b AS BIGINT) * 500 + 499 AS price_hi,
             CAST(b AS BIGINT) AS bucket_id
      FROM range(0, 20) t(b)
    )
    SELECT b.bucket_id, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM orders o JOIN buckets b
      ON o.o_totalprice BETWEEN b.price_lo AND b.price_hi
    GROUP BY b.bucket_id
    """,
    "Range/interval join (operator Spark plans as nested-loop by default): "
    "bucketed-prefilter formulation in operators/rangejoin.py turns it into "
    "an equi-join; oracle is the plain BETWEEN join",
)
def j7_range_join(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.rangejoin import range_join

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    buckets = spark.range(0, 20).select(
        (F.col("id") * 500).cast("double").alias("price_lo"),
        (F.col("id") * 500 + 499).cast("double").alias("price_hi"),
        F.col("id").alias("bucket_id"),
    )
    joined = range_join(
        orders, buckets, "o_totalprice", "price_lo", "price_hi", bucket_width=500
    )
    return joined.groupBy("bucket_id").agg(
        F.count("o_orderkey").alias("n_orders")
    )


@register(
    "sessionize",
    """
    WITH s AS (
      SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
             CAST(CASE WHEN LAG(epoch_ns(ts)) OVER w IS NULL
                       OR epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w > 1800000000000
                       THEN 1 ELSE 0 END AS BIGINT) AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
    )
    SELECT user_id, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id,
           event_id
    FROM s
    """,
    "Gap-based sessionization (30-min gap): lag + running-sum construction "
    "(operators/sessions.py); batch form of session_window",
)
def sessionize_q(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.sessions import sessionize

    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = sessionize(
        ev, "user_id", "ts", gap=1_800_000_000_000, order_tiebreak="event_id"
    )
    return out.select("user_id", "session_id", "event_id")


@register(
    "skew_salted_agg",
    """
    SELECT event_type, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total
    FROM events GROUP BY event_type
    """,
    "Skew-resistant two-phase salted aggregation (operators/skew.py); the "
    "oracle is the plain GROUP BY — salting must not change results",
)
def skew_salted_agg(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.skew import salted_sum

    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", cents("value").alias("v100")
    )
    return salted_sum(
        ev, ["event_type"], "v100", salt_from="event_id", out_col="total"
    )


@register(
    "a13_cube",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "A-extension: CUBE grouping sets (free in Spark, absent in reference)",
)
def a13_cube(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
        )
    )


@register(
    "a14_approx_distinct",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
    "A-extension: approx_count_distinct (HLL++, rsd=0.05) validated against "
    "exact COUNT DISTINCT inside the query — the sketch estimate must land "
    "within 3*rsd of exact, so the oracle hash-checks the bound (the sketch "
    "value itself differs across engines by construction). Spark's HLL++ is "
    "deterministic for fixed input, so within_bound is stable run-to-run.",
)
def a14_approx_distinct(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.05).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx") - F.col("exact_parts"))
                <= 3 * 0.05 * F.col("exact_parts")
            ).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar functions (SURVEY §2.8)
# ---------------------------------------------------------------------------


@register(
    "f1_duration_parse",
    """
    SELECT l_orderkey, l_linenumber, duration_str,
           CAST(l_linenumber * 3600 + CAST(FLOOR(l_quantity) AS BIGINT) * 60
                + (l_suppkey % 60) AS BIGINT) AS duration_sec
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_suppkey,
                 'PT' || l_linenumber || 'H' || CAST(FLOOR(l_quantity) AS BIGINT)
                 || 'M' || (l_suppkey % 60) || 'S' AS duration_str
          FROM lineitem)
    """,
    "F1: ISO-8601 duration -> seconds as pure column expr (ing:40-42); oracle "
    "computes the arithmetic directly, Spark side parses the constructed string",
)
def f1_duration_parse(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            F.lit("PT"),
            F.col("l_linenumber").cast("string"),
            F.lit("H"),
            F.floor("l_quantity").cast("long").cast("string"),
            F.lit("M"),
            (F.col("l_suppkey") % 60).cast("string"),
            F.lit("S"),
        ).alias("duration_str"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "duration_str",
        iso8601_duration_seconds("duration_str").alias("duration_sec"),
    )


@register(
    "f_datetime",
    """
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS order_day,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 6 DAY AS DATE) AS week_end
    FROM orders
    """,
    "F5-F7: date extraction / formatting / arithmetic (ing:88, wk:24)",
)
def f_datetime(spark, sf_dir):
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.date_add(F.col("o_orderdate").cast("date"), 6).alias("week_end"),
    )


@register(
    "f9_format_number",
    """
    SELECT o_orderpriority,
           FORMAT('{:,}', CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT))
             AS total_price_fmt
    FROM orders GROUP BY o_orderpriority
    """,
    "F9/A11: thousands-separator formatting of aggregates (wk:39-40)",
)
def f9_format_number(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.format_number(F.sum(F.floor("o_totalprice").cast("long")), 0).alias(
                "total_price_fmt"
            )
        )
    )


@register(
    "f_string_funcs",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS brand_upper,
           SUBSTRING(p_name, 1, 10) AS name_prefix,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           CASE WHEN p_type LIKE '%BRASS%' THEN 'brass' ELSE 'other' END AS type_class,
           REGEXP_EXTRACT(p_type, '^([A-Z]+)', 1) AS type_head
    FROM part
    """,
    "F-string extension: upper/substring/length/case/regexp (SURVEY §2.8 absent row)",
)
def f_string_funcs(spark, sf_dir):
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
        F.when(F.col("p_type").contains("BRASS"), "brass")
        .otherwise("other")
        .alias("type_class"),
        F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
    )


@register(
    "a15_percentiles",
    """
    SELECT event_type,
           quantile_cont(v100, 0.5) / 100.0 AS median_value,
           quantile_cont(v100, 0.9) / 100.0 AS p90_value
    FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v100 FROM events)
    GROUP BY event_type
    """,
    "A-extension: exact percentiles (linear interpolation) per group; cents "
    "domain keeps interpolation arithmetic bit-identical across engines",
)
def a15_percentiles(spark, sf_dir):
    pre = t(spark, sf_dir, "events").select("event_type", cents("value").alias("v100"))
    return pre.groupBy("event_type").agg(
        (F.percentile("v100", F.lit(0.5)) / 100.0).alias("median_value"),
        (F.percentile("v100", F.lit(0.9)) / 100.0).alias("p90_value"),
    )


@register(
    "a16_string_agg",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
    "A-extension: ordered string aggregation (collect_list -> sort -> join)",
)
def a16_string_agg(spark, sf_dir):
    return (
        t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
        )
    )


@register(
    "a17_pivot",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
    "A-extension: pivot (long -> wide) on event_type; oracle is the "
    "equivalent conditional aggregation",
)
def a17_pivot(spark, sf_dir):
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in types],
    )


@register(
    "f_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ABS(l_quantity - 25) AS DOUBLE) AS dist_from_25,
           SQRT(l_quantity) AS root_qty,
           CAST(ROUND(LN(l_quantity + 1) * 1000000) AS BIGINT) / 1000000.0 AS log_qty,
           CAST(POWER(l_linenumber, 2) AS DOUBLE) AS line_sq,
           CAST(l_suppkey % 7 AS BIGINT) AS supp_mod,
           GREATEST(l_quantity, 10.0) AS qty_floor10,
           LEAST(l_quantity, 40.0) AS qty_cap40
    FROM lineitem
    """,
    "F-extension: math functions (abs/sqrt/ln/power/mod/greatest/least); "
    "ln rounded in scaled-integer space for cross-engine bit-equality",
)
def f_math_funcs(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("dist_from_25"),
        F.sqrt("l_quantity").alias("root_qty"),
        (F.round(F.log(F.col("l_quantity") + 1) * 1000000).cast("long") / 1000000.0).alias(
            "log_qty"
        ),
        F.pow("l_linenumber", 2).alias("line_sq"),
        (F.col("l_suppkey") % 7).alias("supp_mod"),
        F.greatest("l_quantity", F.lit(10.0)).alias("qty_floor10"),
        F.least("l_quantity", F.lit(40.0)).alias("qty_cap40"),
    )


@register(
    "f_array_funcs",
    """
    SELECT doc_id,
           len(toks) AS n_toks,
           toks[1] AS first_tok,
           toks[len(toks)] AS last_tok,
           array_to_string(list_slice(toks, 1, 3), '-') AS head3,
           len(list_distinct(toks)) AS n_unique,
           CASE WHEN list_contains(toks, 'spark') THEN TRUE ELSE FALSE END AS has_spark
    FROM (SELECT doc_id, list_filter(str_split_regex(text, '\\s+'), x -> x <> '') AS toks
          FROM documents)
    """,
    "F-extension: array functions (size/element_at/slice/distinct/contains)",
)
def f_array_funcs(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("toks"))
    return docs.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.element_at("toks", 1).alias("first_tok"),
        F.element_at("toks", -1).alias("last_tok"),
        F.array_join(F.slice("toks", 1, 3), "-").alias("head3"),
        F.size(F.array_distinct("toks")).alias("n_unique"),
        F.array_contains("toks", "spark").alias("has_spark"),
    )


@register(
    "f_conditional_null",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open-or-null') AS status_norm,
           CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
                THEN TRUE ELSE FALSE END AS urgent
    FROM orders
    """,
    "F-extension: CASE chains, NULLIF/COALESCE, boolean expressions",
)
def f_conditional_null(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open-or-null")
        ).alias("status_norm"),
        (
            F.col("o_orderpriority").startswith("1")
            | F.col("o_orderpriority").startswith("2")
        ).alias("urgent"),
    )


@register(
    "a18_having",
    """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    """,
    "A-extension: HAVING (post-aggregation filter)",
)
def a18_having(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 15)
    )


@register(
    "f_string_suite",
    """
    SELECT p_partkey,
           trim(p_name) AS name_trim,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           replace(p_brand, '#', '-') AS brand_dashed,
           split_part(p_type, ' ', 1) AS type_first_word,
           CAST(strpos(p_name, 'a') AS INT) AS first_a,
           reverse(p_brand) AS brand_rev,
           repeat('*', CAST(p_size % 5 AS INT)) AS stars,
           left(p_name, 5) AS name_left5,
           right(p_name, 3) AS name_right3
    FROM part
    """,
    "F-extension: string suite (trim/lpad/replace/split_part/instr/reverse/"
    "repeat/left/right)",
)
def f_string_suite(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.trim("p_name").alias("name_trim"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.replace(F.col("p_brand"), F.lit("#"), F.lit("-")).alias("brand_dashed"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_first_word"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5).cast("int")).alias("stars"),
        F.left(F.col("p_name"), F.lit(5)).alias("name_left5"),
        F.right(F.col("p_name"), F.lit(3)).alias("name_right3"),
    )


@register(
    "f_date_suite",
    """
    SELECT o_orderkey,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
             AS days_since_95,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
           CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow_sun0,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
    FROM orders
    """,
    "F-extension: date suite (datediff/last_day/quarter/dayofweek/"
    "date_trunc); DuckDB dow is 0=Sunday, Spark dayofweek is 1=Sunday",
)
def f_date_suite(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("days_since_95"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
        (F.dayofweek("o_orderdate") - 1).alias("dow_sun0"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
    )


# ---------------------------------------------------------------------------
# Domain seams promoted into the driver gate (VERDICT r4 #7): bronze JSON
# round-trip (S3/S4/F10/P7), naive-UTC timestamp parse (F2), channel
# defaults (P2/F11) — each over a frame DERIVED from the driver's tables so
# the DuckDB oracle can recompute the expected output from the same parquet.
# ---------------------------------------------------------------------------


# Shared by s3_bronze_roundtrip and s1_datasource_roundtrip: both pipelines
# end in the identical silver frame, so they share one oracle.
_BRONZE_DAY_ORACLE = """
    SELECT CAST(o_orderkey AS VARCHAR) AS id,
           DATE '2025-10-06' AS date,
           CAST(o_orderkey % 10 AS VARCHAR) AS category_id,
           'ch' || CAST(o_custkey AS VARCHAR) AS channel_id,
           CAST(0 AS BIGINT) AS comments_count,
           CAST(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 1000 ELSE 0 END
                AS BIGINT) AS likes_count,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS views_count,
           CAST((o_orderkey % 3) * 3600 + (o_custkey % 60) * 60
                + (o_orderkey % 60) AS BIGINT) AS duration,
           o_orderpriority AS title,
           CAST(epoch_us(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
                         + INTERVAL 12 HOUR) AS BIGINT) AS publish_us,
           CASE o_orderkey % 3 WHEN 0 THEN 'QA' WHEN 1 THEN 'US' ELSE 'DE' END
             AS region
    FROM orders WHERE o_orderkey <= 240
    """


def _synthetic_bronze_day(spark, sf_dir) -> DataFrame:
    """(region, response) bronze frame synthesized from orders rows as
    nested videoListResponse structs — stringified counts, ISO-8601
    durations, Z-suffixed timestamps, likeCount absent on odd keys.
    Bounded to <= 60 items regardless of SF (orderkey filter), matching
    the reference's 60-rows/day workload."""
    src = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 240)
    key, cust = F.col("o_orderkey"), F.col("o_custkey")
    item = F.struct(
        key.cast("string").alias("id"),
        F.struct(
            F.concat(
                F.col("o_orderdate").cast("date").cast("string"),
                F.lit("T12:00:00Z"),
            ).alias("publishedAt"),
            F.concat(F.lit("ch"), cust.cast("string")).alias("channelId"),
            F.col("o_orderpriority").alias("title"),
            (key % 10).cast("string").alias("categoryId"),
        ).alias("snippet"),
        F.struct(
            F.concat(
                F.lit("PT"), (key % 3).cast("string"), F.lit("H"),
                (cust % 60).cast("string"), F.lit("M"),
                (key % 60).cast("string"), F.lit("S"),
            ).alias("duration"),
        ).alias("contentDetails"),
        F.struct(
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .cast("string")
            .alias("viewCount"),
            # absent on odd keys: exercises the .get(k, 0) default (F3)
            F.when(key % 2 == 0, (key % 1000).cast("string")).alias(
                "likeCount"
            ),
        ).alias("statistics"),
    )
    region = (
        F.when(key % 3 == 0, F.lit("QA"))
        .when(key % 3 == 1, F.lit("US"))
        .otherwise(F.lit("DE"))
    )
    return (
        src.select(region.alias("region"), item.alias("item"))
        .groupBy("region")
        .agg(F.struct(F.collect_list("item").alias("items")).alias("response"))
    )


def _silver_select(silver: DataFrame) -> DataFrame:
    return silver.select(
        "id", "date", "category_id", "channel_id", "comments_count",
        "likes_count", "views_count", "duration", "title",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            "publish_date)"
        ).alias("publish_us"),
        "region",
    )


def _synthetic_silver(spark, sf_dir):
    """Synthetic bronze day -> written day-file (S3 sink) -> read back
    with the explicit schema (S4 scan) -> production flatten (P1) silver.
    Returns (silver, part_file) so S1/S2 entries can also replay the
    written day-file through their fetcher seams."""
    import datetime as dtmod
    import glob
    import os
    import tempfile

    from youtube_trending_data_pipeline_spark.operators.flatten import (
        flatten_videos,
    )
    from youtube_trending_data_pipeline_spark.sources.bronze import (
        read_bronze_day,
        region_items,
        write_bronze_day,
    )

    bronze = _synthetic_bronze_day(spark, sf_dir)
    day_path = tempfile.mkdtemp(prefix="bronze-rt-") + "/day.json"
    write_bronze_day(bronze, day_path, ["QA", "US", "DE"])
    silver = flatten_videos(
        region_items(read_bronze_day(spark, day_path, ["QA", "US", "DE"])),
        dtmod.date(2025, 10, 6),
    )
    (part_file,) = glob.glob(os.path.join(day_path, "part-*"))
    return silver, part_file


@register(
    "s3_bronze_roundtrip",
    _BRONZE_DAY_ORACLE,
    "S3/S4/F10/P7 + P1/F1/F2/F3 end-to-end in the exact gate: a bronze "
    "day is SYNTHESIZED from orders rows as nested videoListResponse "
    "structs (stringified counts, ISO-8601 durations, Z-suffixed "
    "timestamps, likeCount absent on odd keys), written through "
    "write_bronze_day (reference day-file shape: one JSON object mapping "
    "region -> response, ing:83-91), read back with read_bronze_day's "
    "declared map schema (no inference, one whole-file parse, region "
    "key-presence guard), region-demultiplexed, and flattened by the production "
    "flatten_videos — so the oracle checks the whole JSON ser/de + sink "
    "+ scan + flatten path, with the missing-statistic default (ing:"
    "170-172) observable in likes_count. Bounded: the synthetic day is "
    "<= 60 items regardless of SF (orderkey filter), matching the "
    "reference's 60-rows/day workload.",
)
def s3_bronze_roundtrip(spark, sf_dir):
    silver, _ = _synthetic_silver(spark, sf_dir)
    return _silver_select(silver)


@register(
    "s1_datasource_roundtrip",
    _BRONZE_DAY_ORACLE,
    "S1 in the exact gate (VERDICT r5 #7): the same synthesized bronze "
    "day is read back through the first-class "
    "spark.read.format('trending_videos') Python DataSource (one "
    "InputPartition per region, executor-side fetch through the "
    "DayFileFetcher seam — the replay path a live REST fetcher plugs "
    "into, sources/datasource.py), its per-region payload parsed with "
    "the explicit bronze schema, demultiplexed, and flattened by the "
    "production flatten_videos. Shares s3_bronze_roundtrip's oracle "
    "because the DataSource path is row-equal to the file-scan path — "
    "now driver-verified, not just asserted in "
    "tests/test_python_datasource.py.",
)
def s1_datasource_roundtrip(spark, sf_dir):
    import datetime as dtmod
    import tempfile

    from youtube_trending_data_pipeline_spark.operators.flatten import (
        flatten_videos,
    )
    from youtube_trending_data_pipeline_spark.schemas import (
        VIDEO_LIST_RESPONSE,
    )
    from youtube_trending_data_pipeline_spark.sources.bronze import (
        region_items,
        write_bronze_day,
    )
    from youtube_trending_data_pipeline_spark.sources.datasource import (
        TrendingVideosDataSource,
    )

    bronze = _synthetic_bronze_day(spark, sf_dir)
    day_path = tempfile.mkdtemp(prefix="bronze-ds-") + "/day.json"
    write_bronze_day(bronze, day_path, ["QA", "US", "DE"])
    # the sink coalesces to ONE part-file holding the reference-shaped
    # day object; the DataSource's DayFileFetcher replays that file
    import glob
    import os

    (part_file,) = glob.glob(os.path.join(day_path, "part-*"))
    spark.dataSource.register(TrendingVideosDataSource)
    via_ds = (
        spark.read.format("trending_videos")
        .option("regions", "QA,US,DE")
        .option("day_file", part_file)
        .load()
        .select(
            "region",
            F.from_json("payload", VIDEO_LIST_RESPONSE).alias("response"),
        )
    )
    silver = flatten_videos(region_items(via_ds), dtmod.date(2025, 10, 6))
    return _silver_select(silver)


@register(
    "s2_channels_roundtrip",
    """
    SELECT DISTINCT 'ch' || CAST(o_custkey AS VARCHAR) AS id,
           'channel ch' || CAST(o_custkey AS VARCHAR) AS channel_name,
           CAST(epoch_us(TIMESTAMP '2020-01-01 00:00:00') AS BIGINT)
             AS creation_us
    FROM orders WHERE o_orderkey <= 240
    """,
    "S2 in the exact gate (VERDICT r6 #3, the s1_datasource_roundtrip "
    "treatment for the channel side): the synthesized bronze day is "
    "flattened to silver, the distinct channel-id set streams through "
    "channels_from_fetcher's executor-side batched mapInPandas fetch "
    "(sources/fetchers.py — the seam a live channels().list REST "
    "client plugs into; reference fetches one-by-one driver-side, "
    "ing:94-97,135-138) against the DayFileFetcher replay "
    "implementation, whose synthesized metadata ('channel <id>', "
    "creation 2020-01-01) the oracle rebuilds from orders. Timestamp "
    "projected to epoch micros with the tz-free NTZ diff so neither "
    "engine's session timezone can perturb the compare.",
)
def s2_channels_roundtrip(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.sources.fetchers import (
        DayFileFetcher,
        channels_from_fetcher,
    )

    silver, part_file = _synthetic_silver(spark, sf_dir)
    ids = silver.select("channel_id").distinct()
    channels = channels_from_fetcher(ids, DayFileFetcher(part_file))
    return channels.select(
        "id",
        "channel_name",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            "creation_date)"
        ).alias("creation_us"),
    )


_REPORT_HTML_ORACLE = f"""
    WITH silver AS ({_BRONZE_DAY_ORACLE}),
    ins AS (
      SELECT region,
             CAST(SUM(views_count) AS BIGINT) AS total_views,
             CAST(SUM(likes_count) AS BIGINT) AS total_likes,
             CAST(SUM(comments_count) AS BIGINT) AS total_comments
      FROM silver GROUP BY region
    ), topcat AS (
      SELECT region, CAST(category_id AS BIGINT) AS top_category FROM (
        SELECT region, category_id,
               ROW_NUMBER() OVER (PARTITION BY region
                 ORDER BY COUNT(*) DESC, category_id ASC) AS rn
        FROM silver GROUP BY region, category_id
      ) WHERE rn = 1
    ), rep AS (
      SELECT i.region, t.top_category,
             format('{{:,}}', i.total_views) AS views_s,
             format('{{:,}}', i.total_likes) AS likes_s,
             CASE WHEN i.total_views > 0 THEN ROUND(
               (CAST(i.total_likes + 2 * i.total_comments AS DOUBLE)
                / i.total_views) * 1000.0, 2)
             ELSE 0.0 END AS avg_ratio
      FROM ins i JOIN topcat t USING (region)
    ), body AS (
      SELECT string_agg(
               '<tr><td>' || region || '</td><td>'
               || CAST(top_category AS VARCHAR) || '</td><td>'
               || views_s || '</td><td>' || likes_s || '</td><td>'
               || CAST(avg_ratio AS VARCHAR) || '</td></tr>',
               '' ORDER BY region) AS b,
             CAST(COUNT(*) AS BIGINT) AS n_regions
      FROM rep
    ), page AS (
      SELECT '<html><body><h2>Weekly Trending Report</h2>'
             || '<table border=''1''>'
             || '<tr><th>Region</th><th>Top Category</th>'
             || '<th>Total Views</th><th>Total Likes</th>'
             || '<th>Avg Engagement Ratio</th></tr>'
             || b || '</table></body></html>' AS h,
             n_regions
      FROM body
    )
    SELECT n_regions, CAST(length(h) AS BIGINT) AS html_len,
           md5(h) AS html_md5
    FROM page
    """


@register(
    "report_html_hash",
    _REPORT_HTML_ORACLE,
    "F12 + S11 presentation parity in the exact gate (VERDICT r6 #3): "
    "the synthesized bronze day runs the WHOLE domain pipeline — "
    "flatten silver, daily_insights gold, trailing-week "
    "weekly_insights with the reference's thousands formatting "
    "(wk:39-41) — and the rendered weekly HTML (report/html.py, the "
    "byte string the reference POSTs to SendGrid, wk:90-109) is "
    "hashed into a 1-row frame (region count, length, md5). The "
    "oracle rebuilds the identical byte string in SQL: same mode "
    "tie-break, same float-division order for the engagement ratio, "
    "same format('{:,}') grouping, same tag layout — so any drift in "
    "aggregation, rounding, ordering, or markup breaks the hash. The "
    "driver-side render collects a bounded one-row-per-region frame "
    "(3 regions), the documented presentation-layer exception.",
)
def report_html_hash(spark, sf_dir):
    import datetime as dtmod
    import hashlib

    from youtube_trending_data_pipeline_spark.operators.insights import (
        daily_insights,
    )
    from youtube_trending_data_pipeline_spark.operators.weekly import (
        weekly_insights,
    )
    from youtube_trending_data_pipeline_spark.report.html import (
        render_weekly_html,
    )

    silver, _ = _synthetic_silver(spark, sf_dir)
    gold = daily_insights(silver)
    report = weekly_insights(gold, dtmod.date(2025, 10, 6), formatted=True)
    page = render_weekly_html(report)
    digest = hashlib.md5(page.encode("utf-8")).hexdigest()
    n_regions = page.count("<tr>") - 1  # header row
    return spark.createDataFrame(
        [(n_regions, len(page), digest)],
        "n_regions long, html_len long, html_md5 string",
    )


@register(
    "f2_timestamp_parse",
    """
    SELECT o_orderkey, ts_str,
           CAST(epoch_us(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
                + to_hours(o_orderkey % 24) + to_minutes(o_custkey % 60)
                + to_seconds(o_orderkey % 60)) AS BIGINT) AS ts_us
    FROM (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || 'T'
             || lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') || ':'
             || lpad(CAST(o_custkey % 60 AS VARCHAR), 2, '0') || ':'
             || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0')
             || CASE WHEN o_orderkey % 2 = 0 THEN 'Z' ELSE '' END AS ts_str
      FROM orders
    )
    """,
    "F2 in the exact gate: the reference's naive-UTC policy (strip the "
    "trailing Z, keep the wall clock — ing:44-45) via parse_naive_utc "
    "over ISO-8601 strings synthesized from orders (Z-suffixed on even "
    "keys, bare on odd). Output is the parsed TimestampNTZ projected to "
    "epoch micros with a tz-free NTZ diff, so the comparison cannot be "
    "perturbed by either engine's session timezone; the oracle rebuilds "
    "the instant with pure date+interval arithmetic.",
)
def f2_timestamp_parse(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.functions.timestamps import (
        parse_naive_utc,
    )

    key, cust = F.col("o_orderkey"), F.col("o_custkey")
    ts_str = F.concat(
        F.col("o_orderdate").cast("date").cast("string"),
        F.lit("T"),
        F.lpad((key % 24).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((cust % 60).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((key % 60).cast("string"), 2, "0"),
        F.when(key % 2 == 0, F.lit("Z")).otherwise(F.lit("")),
    )
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", ts_str.alias("ts_str"))
        .withColumn("_parsed", parse_naive_utc("ts_str"))
        .select(
            "o_orderkey",
            "ts_str",
            F.expr(
                "timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00', _parsed)"
            ).alias("ts_us"),
        )
    )


@register(
    "p2_channel_defaults",
    """
    SELECT 'ch' || CAST(c_custkey AS VARCHAR) AS id,
           c_name AS channel_name,
           COALESCE(CASE WHEN c_custkey % 3 <> 0 THEN c_mktsegment END,
                    'Unkown') AS country,
           COALESCE(CASE WHEN c_custkey % 2 <> 0 THEN TRUE END, FALSE)
             AS made_for_kids,
           CAST(COALESCE(CASE WHEN c_custkey % 5 <> 0 THEN c_custkey * 7 END,
                         0) AS BIGINT) AS subscribers_count,
           CAST(COALESCE(CASE WHEN c_custkey % 4 <> 0 THEN c_custkey * 11 END,
                         0) AS BIGINT) AS views_count,
           CAST(COALESCE(CASE WHEN c_custkey % 6 <> 0 THEN c_custkey % 100 END,
                         0) AS BIGINT) AS videos_count,
           COALESCE(CASE WHEN c_custkey % 7 <> 0 THEN c_mktsegment END, '')
             AS keywords
    FROM customer
    """,
    "P2/F11 in the exact gate: the reference's channel missing-field "
    "defaults (country -> 'Unkown' sic, made_for_kids -> false, counts "
    "-> 0, keywords -> '' — ing:99-107) applied by the PRODUCTION "
    "apply_channel_defaults projection to a channels frame synthesized "
    "from customer with deterministic NULL holes punched per field.",
)
def p2_channel_defaults(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.channels import (
        apply_channel_defaults,
    )

    key = F.col("c_custkey")
    raw = t(spark, sf_dir, "customer").select(
        F.concat(F.lit("ch"), key.cast("string")).alias("id"),
        F.col("c_name").alias("channel_name"),
        F.when(key % 3 != 0, F.col("c_mktsegment")).alias("country"),
        F.lit(None).cast("timestamp_ntz").alias("creation_date"),
        F.when(key % 2 != 0, F.lit(True)).alias("made_for_kids"),
        F.when(key % 5 != 0, (key * 7).cast("long")).alias(
            "subscribers_count"
        ),
        F.when(key % 4 != 0, (key * 11).cast("long")).alias("views_count"),
        F.when(key % 6 != 0, (key % 100).cast("long")).alias("videos_count"),
        F.when(key % 7 != 0, F.col("c_mktsegment")).alias("keywords"),
    )
    return apply_channel_defaults(raw).drop("creation_date")


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extensions()
    from youtube_trending_data_pipeline_spark.registry_order import (
        correctness_rounds,
        order_for_driver,
    )

    ordered = order_for_driver(QUERIES, correctness_rounds())
    return {name: QUERIES[name].fn for name in ordered}


def _load_extensions() -> None:
    # catalog_ext registers into QUERIES on import (kept separate to keep
    # this module focused on reference-parity operators)
    from youtube_trending_data_pipeline_spark import catalog_ext  # noqa: F401
    from youtube_trending_data_pipeline_spark import catalog_tpch  # noqa: F401
    from youtube_trending_data_pipeline_spark import catalog_corpus  # noqa: F401
    from youtube_trending_data_pipeline_spark import catalog_curation  # noqa: F401
    from youtube_trending_data_pipeline_spark import catalog_analysis  # noqa: F401
    from youtube_trending_data_pipeline_spark import catalog_analysis_mining  # noqa: F401
    from youtube_trending_data_pipeline_spark import catalog_analysis_series  # noqa: F401
    from youtube_trending_data_pipeline_spark import catalog_quality  # noqa: F401


def all_oracles() -> dict[str, str]:
    """Resolved oracle SQL per query (callables invoked here).

    Generated oracles read ``SPARK_GRAFT_ORACLE_SF_DIR`` (default
    ``/root/testdata/sf0.01`` — the driver's comparison SF) so the
    data-dependent literals they embed come from the same tables the
    driver's DuckDB views point at."""
    _load_extensions()
    return {
        name: (spec.oracle() if callable(spec.oracle) else spec.oracle)
        for name, spec in QUERIES.items()
        if spec.oracle is not None
    }
