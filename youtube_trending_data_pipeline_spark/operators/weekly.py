"""Weekly report aggregation (SURVEY §2 W2, A7-A9, J2, F9).

Reference: dags/weekly_report.py:24-46 — trailing-7-day scan of
``daily_insights``, then per region: (1) modal ``top_category_id`` over
the window (wk:36), (2) sums/avg restricted to rows whose
``top_category_id`` equals that mode (wk:39-41), thousands-formatted
strings for the totals and a 2-dp-rounded mean for the ratio.

Spark shape: range-pruned scan -> mode_per_group -> broadcast join back
(the mode side is one row per region — tiny) -> conditional aggregates via
``sum(when(...))``; equivalently a semi-join (J2). One shuffle total.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.operators.mode import mode_per_group


def weekly_window(insights: DataFrame, end_date: dt.date) -> DataFrame:
    """Trailing 7-day slice [end_date-6, end_date] (W2, wk:24-27).
    On date-partitioned Parquet this prunes to 7 partitions."""
    start = end_date - dt.timedelta(days=6)
    return insights.where(F.col("date").between(F.lit(start), F.lit(end_date)))


def weekly_insights(
    insights: DataFrame,
    end_date: dt.date,
    formatted: bool = True,
) -> DataFrame:
    """Per-region weekly rollup.

    ``formatted=True`` reproduces the reference's presentation semantics
    (thousands separators via format_number, wk:39-40); ``False`` keeps
    numeric types for downstream querying.
    """
    week = weekly_window(insights, end_date)
    top = mode_per_group(week, ["region"], "top_category_id", out_col="top_category")
    joined = week.join(F.broadcast(top), "region")
    is_top = F.col("top_category_id") == F.col("top_category")
    agg = joined.groupBy("region", "top_category").agg(
        F.sum(F.when(is_top, F.col("total_views")).otherwise(F.lit(0))).alias(
            "total_views_for_top_category"
        ),
        F.sum(F.when(is_top, F.col("total_likes")).otherwise(F.lit(0))).alias(
            "total_likes_for_top_category"
        ),
        F.round(
            F.avg(F.when(is_top, F.col("engagement_ratio"))), 2
        ).alias("average_engagement_ratio"),
    )
    if formatted:
        agg = agg.withColumn(
            "total_views_for_top_category",
            F.format_number("total_views_for_top_category", 0),
        ).withColumn(
            "total_likes_for_top_category",
            F.format_number("total_likes_for_top_category", 0),
        )
    # deterministic row order (reference relies on dict insertion order,
    # wk:62). One row per region: a single-partition sort, not a global
    # orderBy, whose range partitioning starts a sampling job.
    return (
        agg.select(
            "region",
            "top_category",
            "total_views_for_top_category",
            "total_likes_for_top_category",
            "average_engagement_ratio",
        )
        .coalesce(1)
        .sortWithinPartitions("region")
    )
