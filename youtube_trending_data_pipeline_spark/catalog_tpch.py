"""Catalog extensions: TPC-H-shaped composite queries and subquery forms.

The reference pipeline never joins more than two tables and has no
subqueries (SURVEY §2.3 J3 notes the latent join its schema supports), but
an engine replacing its BigQuery backend must handle the classic
warehouse-query shapes a user would send at it.  These entries exercise
multi-way join planning (join reordering, broadcast selection, AQE),
IN/EXISTS/scalar/correlated subqueries (Catalyst decorrelation), explicit
GROUPING SETS, and RANGE window frames — each against a bit-exact DuckDB
oracle.

Float determinism policy per catalog.py: every money aggregate is computed
in integer units (1e-4 dollars for extendedprice×discount terms — cents ×
discount-percent stays integral) and divided back to double at the end, so
the driver's exact value-hash matches regardless of partitioning or merge
order.  See ``catalog.cents``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.catalog import cents, register, t

# Integer revenue term: cents(extendedprice) * (100 - discount%) is in
# 1e-4-dollar units and exactly representable as BIGINT (max ~1e7/row;
# summing 6e8 rows stays < 2^63).  Mirrored verbatim in every oracle.
_REV4_SQL = (
    "CAST(ROUND(l_extendedprice*100) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount*100) AS BIGINT))"
)


def _rev4() -> "F.Column":
    return cents("l_extendedprice") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )


def _views(spark, sf_dir, *names):
    for n in names:
        t(spark, sf_dir, n).createOrReplaceTempView(n)


@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           SUM({_REV4_SQL}) / 10000.0 AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15'
      AND l_shipdate  > TIMESTAMP '1997-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    "TPC-H Q3 shape: 3-way join + agg + deterministic top-10 (latent join of "
    "SURVEY §2.3 J3 at warehouse complexity). Filters push to all three "
    "scans; AQE picks broadcast for the filtered customer side; TakeOrdered "
    "avoids a global sort.",
)
def q3_shipping_priority(spark, sf_dir):
    cut = F.lit("1997-03-15").cast("timestamp")
    cust = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cut)
    li = t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cut)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_rev4()) / 10000.0).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    f"""
    SELECT n_name, SUM({_REV4_SQL}) / 10000.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    "TPC-H Q5 shape: 6-way join (fact-fact + 4 dims) with a non-equi "
    "residual (customer and supplier in the same nation). nation/region "
    "broadcast at any scale; the customer⋈orders⋈lineitem chain shuffles on "
    "its keys and AQE reorders/coalesces.",
)
def q5_local_supplier_volume(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    # nation⋈region is a few rows: broadcast-prune suppliers before the
    # big join instead of filtering after.
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supp = t(spark, sf_dir, "supplier").join(
        F.broadcast(asia_nations),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    cust = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg((F.sum(_rev4()) / 10000.0).alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) / 10000.0
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 shape: pure scan-filter-aggregate, zero joins, ONE shuffle "
    "(partial->final). All three predicates push to the parquet scan.",
)
def q6_forecast_revenue(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(
                    cents("l_extendedprice")
                    * F.round(F.col("l_discount") * 100).cast("long")
                )
                / 10000.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q18_large_volume_customer",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty100
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
    "TPC-H Q18 shape: IN-subquery with HAVING over the fact table. The "
    "oracle states it as the textbook IN form (two lineitem scans after "
    "Catalyst's semi-join decorrelation); the Spark plan pre-aggregates "
    "lineitem ONCE and filters the aggregate — the sum the HAVING needs IS "
    "the sum the output needs, so the 100 TB plan does one scan + one "
    "shuffle of (orderkey, sum) instead of scanning the fact table twice.",
)
def q18_large_volume_customer(spark, sf_dir):
    qty = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("sum_qty100"))
        .where(F.col("sum_qty100") > 150 * 100)
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (
        qty.join(orders, qty.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            "sum_qty100",
        )
    )


@register(
    "sub_scalar_above_avg",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) * (SELECT COUNT(*) FROM customer)
        > (SELECT CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT)
           FROM customer)
    """,
    "Scalar subquery: customers with above-average balance. The avg "
    "comparison is cross-multiplied into pure-integer form (bal*N > total) "
    "so no float average exists to diverge; Spark plans the two scalars as "
    "broadcast subquery results.",
)
def sub_scalar_above_avg(spark, sf_dir):
    _views(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) * (SELECT COUNT(*) FROM customer)
            > (SELECT SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) FROM customer)
        """
    )


@register(
    "sub_correlated_min_per_group",
    """
    SELECT p_brand, p_partkey, p_retailprice
    FROM part p
    WHERE CAST(ROUND(p_retailprice*100) AS BIGINT) = (
        SELECT MIN(CAST(ROUND(p2.p_retailprice*100) AS BIGINT))
        FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    """,
    "Correlated scalar subquery (TPC-H Q2's min-cost-supplier shape): "
    "cheapest part per brand. Catalyst decorrelates into a per-brand "
    "aggregate + equi-join — no per-row re-execution.",
)
def sub_correlated_min_per_group(spark, sf_dir):
    _views(spark, sf_dir, "part")
    return spark.sql(
        """
        SELECT p_brand, p_partkey, p_retailprice
        FROM part p
        WHERE CAST(ROUND(p_retailprice*100) AS BIGINT) = (
            SELECT MIN(CAST(ROUND(p2.p_retailprice*100) AS BIGINT))
            FROM part p2 WHERE p2.p_brand = p.p_brand
        )
        """
    )


@register(
    "a19_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
           CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty100,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    "Explicit GROUPING SETS with GROUPING() disambiguation of the NULL "
    "fill rows (complements a12_rollup/a13_cube). One expand + one "
    "hash-aggregate; partial aggregation still applies.",
)
def a19_grouping_sets(spark, sf_dir):
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS sum_qty100,
               COUNT(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "w_range_frame_sliding",
    """
    WITH daily AS (
        SELECT l_returnflag,
               CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                    AS INTEGER) AS day_num,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100) AS BIGINT)))
                    AS BIGINT) AS rev4
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, day_num,
           rev4 / 10000.0 AS day_revenue,
           CAST(SUM(rev4) OVER (
               PARTITION BY l_returnflag ORDER BY day_num
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) / 10000.0 AS trailing7_revenue
    FROM daily
    """,
    "RANGE window frame (value-based, not row-count-based): trailing-7-DAY "
    "revenue per day — gaps in the date axis shrink the frame, unlike the "
    "ROWS frame in w_rank_lag_running. W2's trailing week as a window "
    "(wk:24-27). Integer day ordinal keys the frame; sums stay integral.",
)
def w_range_frame_sliding(spark, sf_dir):
    daily = (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            "l_returnflag",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("day_num"),
        )
        .agg(F.sum(_rev4()).alias("rev4"))
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "l_returnflag",
        "day_num",
        (F.col("rev4") / 10000.0).alias("day_revenue"),
        (F.sum("rev4").over(w) / 10000.0).alias("trailing7_revenue"),
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: correlated EXISTS (did any line ship after the order "
    "date?) — planned as a left-semi join, so lineitem contributes at most "
    "one match per order and is never materialized per-row.",
)
def q4_order_priority(spark, sf_dir):
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """
    )


@register(
    "q12_priority_class_counts",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
    "TPC-H Q12 shape: fact-fact join feeding conditional COUNTs (CASE "
    "inside SUM — A8's conditional aggregation at join scale).",
)
def q12_priority_class_counts(spark, sf_dir):
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        t(spark, sf_dir, "orders")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_count"),
        )
    )


@register(
    "q14_promo_revenue_share",
    f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV4_SQL}
                              ELSE 0 END) AS BIGINT)
                 / CAST(SUM({_REV4_SQL}) AS BIGINT) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    "TPC-H Q14 shape: ratio of conditional to total revenue. Both sides "
    "are exact integer sums; the single final double division is the only "
    "float op, so the percentage is bit-identical across engines.",
)
def q14_promo_revenue_share(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    joined = li.join(
        t(spark, sf_dir, "part"), F.col("p_partkey") == F.col("l_partkey")
    )
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", _rev4()).otherwise(0))
            / F.sum(_rev4())
        ).alias("promo_pct")
    )


@register(
    "q19_disjunctive_predicates",
    f"""
    SELECT CAST(SUM({_REV4_SQL}) AS BIGINT) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
    "TPC-H Q19 shape: disjunction of conjunctive ranges spanning both join "
    "sides. Catalyst extracts the common per-table implications (brand IN "
    "set, quantity/size envelopes) and pushes them below the join, so each "
    "scan prunes before the OR is evaluated post-join.",
)
def q19_disjunctive_predicates(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    j = li.join(pt, F.col("p_partkey") == F.col("l_partkey"))
    arm = lambda b, smax, qlo, qhi: (
        (F.col("p_brand") == b)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.where(
        arm("Brand#12", 15, 1, 21) | arm("Brand#23", 25, 10, 30) | arm("Brand#34", 35, 20, 40)
    ).agg(
        (F.sum(_rev4()) / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "sub_not_exists",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    """,
    "Correlated NOT EXISTS: customers with no orders since 2000 — the subquery "
    "spelling of J1's anti-join (Catalyst plans a left-anti join; compare "
    "j1_anti_join's explicit DataFrame form).",
)
def sub_not_exists(spark, sf_dir):
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        """
    )


@register(
    "q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           SUM({_REV4_SQL}) / 10000.0 AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_5' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_5'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape (adapted: no n_comment; generic nation names): the same "
    "dimension table joined TWICE under different roles (supplier nation vs "
    "customer nation) with a disjunctive cross-alias predicate. Both nation "
    "sides broadcast; the symmetric OR can't be pushed to either scan alone, "
    "so it runs as a post-join filter over two tiny broadcast hashes.",
)
def q7_volume_shipping(spark, sf_dir):
    nation = t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_5", "NATION_7")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supp = t(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk")
    )
    cust = t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk")
    )
    orders = t(spark, sf_dir, "orders")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(
            ((F.col("supp_nation") == "NATION_5") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_5"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg((F.sum(_rev4()) / 10000.0).alias("revenue"))
    )


@register(
    "q8_market_share",
    f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev4 ELSE 0 END)
                AS DOUBLE) / CAST(SUM(rev4) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             {_REV4_SQL} AS rev4,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) v
    GROUP BY o_year
    """,
    "TPC-H Q8 shape: 8-way join (two nation roles + region + part) feeding a "
    "conditional-share ratio. The ratio divides two exact BIGINT sums so the "
    "double is bit-deterministic across partitionings. part/nation/region "
    "broadcast; the order-customer-lineitem chain is the only shuffle.",
)
def q8_market_share(spark, sf_dir):
    part = t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eur_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nk"))
    cust = t(spark, sf_dir, "customer").join(
        F.broadcast(eur_nations), F.col("c_nationkey") == F.col("c_nk")
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    supp = t(spark, sf_dir, "supplier").join(
        F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nk")
    )
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    rev = _rev4()
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0)))
                .cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
    )


@register(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name, SUM({_REV4_SQL}) / 10000.0 AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape (adapted: no c_address/c_phone/c_comment columns): "
    "lost-revenue-per-customer top-20. Wide GROUP BY keyed by c_custkey "
    "with functionally-dependent attributes carried through; "
    "TakeOrderedAndProject caps the result without a global sort.",
)
def q10_returned_items(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(_rev4()) / 10000.0).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({_REV4_SQL}) AS total_rev4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev4 / 10000.0 AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev4 = (SELECT MAX(total_rev4) FROM revenue)
    """,
    "TPC-H Q15 shape: CTE reused twice — once as join input, once inside a "
    "scalar subquery (the classic 'rows equal to the max' idiom). The max is "
    "over exact BIGINT revenue so ties and equality are bit-deterministic. "
    "Catalyst plans the scalar as a one-row broadcast.",
)
def q15_top_supplier(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev4()).alias("total_rev4"))
    )
    best = revenue.agg(F.max("total_rev4").alias("best_rev4"))
    supp = t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best), F.col("total_rev4") == F.col("best_rev4"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_rev4") / 10000.0).alias("total_revenue"),
        )
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)
           / 700.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS agg_pk, COUNT(*) AS li_cnt,
                 SUM(CAST(l_quantity AS BIGINT)) AS qty_sum
          FROM lineitem GROUP BY l_partkey) pa
      ON agg_pk = p_partkey
    WHERE p_brand = 'Brand#1' AND p_type = 'SMALL'
      AND 5 * CAST(l_quantity AS BIGINT) * li_cnt < qty_sum
    """,
    "TPC-H Q17 shape: correlated per-part average decorrelated into an "
    "aggregate self-join. The 'qty < 0.2*avg(qty)' predicate is rewritten to "
    "the integer-exact cross-multiplied form 5*qty*cnt < sum so the boundary "
    "never depends on float division. Quantities are integral by "
    "construction (verified). The per-part aggregate is computed only over "
    "the broadcast-filtered parts, not the full lineitem.",
)
def q17_small_quantity_revenue(spark, sf_dir):
    part = t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#1") & (F.col("p_type") == "SMALL")
    )
    li = t(spark, sf_dir, "lineitem")
    # Broadcast the filtered parts once; both the probe rows and the per-part
    # aggregate derive from this pruned join (semantically identical to
    # aggregating all of lineitem, but never shuffles the unmatched 99%).
    li_p = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    per_part = li_p.groupBy(F.col("l_partkey").alias("agg_pk")).agg(
        F.count(F.lit(1)).alias("li_cnt"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
    )
    return (
        li_p.join(F.broadcast(per_part), F.col("l_partkey") == F.col("agg_pk"))
        .where(
            F.lit(5) * F.col("l_quantity").cast("long") * F.col("li_cnt")
            < F.col("qty_sum")
        )
        .agg(
            (F.sum(cents("l_extendedprice")).cast("double") / 700.0).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q22_dormant_customers",
    """
    WITH pos AS (
      SELECT COUNT(*) AS cnt,
             SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS bal_sum
      FROM customer
      WHERE c_acctbal > 0.0
        AND substr(c_name, length(c_name), 1) IN ('1','2','3','4','5')
    )
    SELECT cntrycode, COUNT(*) AS numcust,
           SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) / 100.0 AS totacctbal
    FROM (
      SELECT substr(c_name, length(c_name), 1) AS cntrycode,
             c_acctbal, c_custkey
      FROM customer
      WHERE substr(c_name, length(c_name), 1) IN ('1','2','3','4','5')
    ) c, pos
    WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) * cnt > bal_sum
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cntrycode
    """,
    "TPC-H Q22 shape (adapted: no c_phone — 'country code' is the last digit "
    "of c_name; 'dormant' means no orders since 2000, since every customer "
    "in this data has at least one order): above-average account balance via "
    "a scalar aggregate subquery PLUS a NOT EXISTS anti-join, grouped into "
    "segments. The 'balance > avg(balance)' comparison is cross-multiplied "
    "into exact integer cents (bal*cnt > sum) so the cut is "
    "bit-deterministic.",
)
def q22_dormant_customers(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.expr("substr(c_name, length(c_name), 1)")
    ).where(F.col("cntrycode").isin("1", "2", "3", "4", "5"))
    pos = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(cents("c_acctbal")).alias("bal_sum"),
    )
    orders = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .where(cents("c_acctbal") * F.col("cnt") > F.col("bal_sum"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(cents("c_acctbal")) / 100.0).alias("totacctbal"),
        )
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) per_cust
    GROUP BY c_count
    """,
    "TPC-H Q13 shape: outer join with an ON-clause filter on the *right* "
    "side (which must not drop order-less customers), then a two-level "
    "aggregation — count orders per customer, then the distribution of "
    "those counts. The second groupBy keys on an aggregate output, so AQE "
    "re-plans the tiny second exchange at runtime. All-integer output.",
)
def q13_customer_distribution(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q21_waiting_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders    ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 150 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 150 DAY)
    GROUP BY s_name
    """,
    "TPC-H Q21 shape (adapted: 'late' = shipped >150 days after order date, "
    "since this lineitem has no commit/receipt dates): the double "
    "correlated EXISTS/NOT-EXISTS ('another supplier in the order exists, "
    "but no OTHER supplier was late') is decorrelated Spark-side into ONE "
    "per-order aggregate — countDistinct(supplier) and "
    "countDistinct(late supplier) — then a filter n_supp>1 AND n_late=1. "
    "One shuffle over lineitem replaces two correlated semi/anti joins; at "
    "100 TB that is the difference between one pass and three.",
)
def q21_waiting_suppliers(spark, sf_dir):
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 150 DAYS")
    orders_f = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lo = li.join(orders_f, li.l_orderkey == orders_f.o_orderkey).withColumn(
        "is_late", late
    )
    per_order = lo.groupBy(F.col("l_orderkey").alias("agg_ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late"),
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lo.where(F.col("is_late"))
        .join(per_order, F.col("l_orderkey") == F.col("agg_ok"))
        .where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q9_product_type_profit",
    f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           SUM({_REV4_SQL}
               - CAST(ROUND(p_retailprice*100) AS BIGINT)
                 * CAST(l_quantity AS BIGINT) * 90) / 10000.0 AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey  = l_partkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    "TPC-H Q9 shape (adapted: no partsupp table in this schema, so unit "
    "cost is 90% of p_retailprice): profit per nation per year through a "
    "5-way join with a LIKE filter on part. Profit stays in exact 1e-4-"
    "dollar BIGINT units until the final divide. The filtered part side "
    "broadcasts; supplier->nation broadcasts; only lineitem<->orders "
    "shuffles.",
)
def q9_product_type_profit(spark, sf_dir):
    part = (
        t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp_nation = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem")
    profit4 = _rev4() - (
        cents("p_retailprice") * F.col("l_quantity").cast("long") * F.lit(90)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((F.sum(profit4) / 10000.0).alias("sum_profit"))
    )


@register(
    "q11_important_parts",
    f"""
    WITH val AS (
      SELECT l_partkey, SUM({_REV4_SQL}) AS value4
      FROM lineitem GROUP BY l_partkey
    ), tot AS (SELECT SUM(value4) // COUNT(*) AS avg4 FROM val)
    SELECT l_partkey, value4 / 10000.0 AS part_value
    FROM val, tot
    WHERE value4 * 2 > avg4 * 3
    """,
    "TPC-H Q11 shape (adapted: part value from lineitem revenue, no "
    "partsupp): groups whose aggregate exceeds a threshold derived from "
    "the global total — a scalar aggregate-of-aggregate subquery in the "
    "HAVING position. The per-part aggregate is computed ONCE and reused "
    "for both the scalar and the filter (self-referencing CTE). The "
    "threshold is 1.5x the MEAN per-part value (scale-invariant, unlike "
    "Q11's fixed fraction, so it stays non-vacuous at every SF) and is "
    "cross-multiplied (value4*2 > avg4*3) over an integer-div mean so the "
    "cut is integer-exact on both engines.",
)
def q11_important_parts(spark, sf_dir):
    val = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(_rev4()).alias("value4"))
    )
    tot = val.agg(F.expr("sum(value4) div count(*)").alias("avg4"))
    return (
        val.crossJoin(F.broadcast(tot))
        .where(F.col("value4") * 2 > F.col("avg4") * 3)
        .select("l_partkey", (F.col("value4") / 10000.0).alias("part_value"))
    )


@register(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type  <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    "TPC-H Q16 shape (adapted: supplier-part relationships come from "
    "lineitem, 'complaint' suppliers are those with negative balance): "
    "COUNT(DISTINCT) per 3-column group, negated predicates, an IN-list, "
    "and a NOT IN subquery. s_suppkey is non-nullable so the null-aware "
    "NOT IN lowers to a broadcast anti-join; the distinct-aggregate "
    "expands via partial distinct (Spark's two-phase distinct agg) before "
    "the final group exchange.",
)
def q16_supplier_part_counts(spark, sf_dir):
    part = (
        t(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "j9_lateral_topk",
    """
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) best
    WHERE c_mktsegment = 'MACHINERY'
    """,
    "LATERAL correlated subquery (top-2 orders per customer), run through "
    "Spark SQL's native LATERAL join support — Catalyst decorrelates the "
    "ORDER BY ... LIMIT into a ranked window under the hood, which is "
    "exactly the scale-safe plan (no per-row re-execution). Tie-break on "
    "o_orderkey keeps top-2 deterministic; o_totalprice passes through "
    "unaggregated so doubles are bit-identical.",
)
def j9_lateral_topk(spark, sf_dir):
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, o_orderkey, o_totalprice
        FROM customer JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = customer.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) best
        WHERE c_mktsegment = 'MACHINERY'
        """
    )


@register(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS cost_c
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT p_partkey, p_brand, s_name, n_name, s_acctbal,
           cost_c / 100.0 AS supply_cost
    FROM part, ps, eu
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
      AND cost_c = (SELECT MIN(ps2.cost_c)
                    FROM ps ps2 JOIN eu eu2 ON eu2.s_suppkey = ps2.l_suppkey
                    WHERE ps2.l_partkey = p_partkey)
    """,
    "TPC-H Q2 shape (adapted: the part-supplier association and its "
    "supply cost come from lineitem — min observed sale price in cents — "
    "since the testdata has no partsupp): for each qualifying part, the "
    "EUROPE supplier(s) offering the minimum cost, i.e. a correlated "
    "scalar MIN subquery over the same join tree as the outer query. "
    "Implemented decorrelated by construction (cite SURVEY §2.3 J3, "
    "reference dags/trending_daily_ingestion.py:135-138 for the latent "
    "small-dim join): one groupBy(l_partkey) over the region-pruned "
    "association computes every group's min at once, then an equality "
    "join applies it — the plan Catalyst would rewrite the correlated "
    "form into, with nation/region/supplier broadcast at every scale. "
    "Ties on min cost keep all suppliers (order-insensitive hash). Cost "
    "stays integer cents until the final /100.0 so the value hash is "
    "bit-exact.",
)
def q2_min_cost_supplier(spark, sf_dir):
    ps = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(cents("l_extendedprice")).alias("cost_c"))
    )
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    nation = t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    eu = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_ps = ps.join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
    min_cost = eu_ps.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("cost_c").alias("min_cost_c")
    )
    part = (
        t(spark, sf_dir, "part")
        .where(F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_brand")
    )
    return (
        eu_ps.join(
            min_cost,
            (F.col("l_partkey") == F.col("mk"))
            & (F.col("cost_c") == F.col("min_cost_c")),
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            "s_acctbal",
            (F.col("cost_c") / 100.0).alias("supply_cost"),
        )
    )


@register(
    "q20_excess_shipment_suppliers",
    """
    SELECT s_name, s_acctbal, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'red%'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                         AND l_shipdate <  TIMESTAMP '1998-01-01'
                   THEN CAST(l_quantity AS BIGINT) ELSE 0 END) * 2
               > SUM(CAST(l_quantity AS BIGINT))
      )
    """,
    "TPC-H Q20 shape (adapted: 'excess stock' becomes part-supplier pairs "
    "whose 1997 shipments exceed half their all-time quantity, since the "
    "testdata has no partsupp.availqty): an IN subquery whose body is "
    "itself a grouped aggregate with a conditional-sum HAVING — the "
    "nested-decorrelation pattern of Q20 (reference has no subqueries at "
    "all; SURVEY §2.3). The inner aggregate computes both the windowed "
    "and total quantity in ONE pass (no self-join), the IN lowers to a "
    "semi-join against the distinct supplier keys, and the region dims "
    "broadcast. Quantities are integral doubles cast to BIGINT so the "
    "*2 cross-multiplied threshold is integer-exact on both engines.",
)
def q20_excess_shipment_suppliers(spark, sf_dir):
    red_parts = (
        t(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    y0 = F.lit("1997-01-01").cast("timestamp")
    y1 = F.lit("1998-01-01").cast("timestamp")
    qty = F.col("l_quantity").cast("long")
    excess = (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when((F.col("l_shipdate") >= y0) & (F.col("l_shipdate") < y1), qty)
                .otherwise(F.lit(0))
            ).alias("qty_1997"),
            F.sum(qty).alias("qty_all"),
        )
        .where(F.col("qty_1997") * 2 > F.col("qty_all"))
        .select("l_suppkey")
        .distinct()
    )
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    nation = t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal", "n_name")
    )
