"""Weekly report aggregation (SURVEY §2 W2, A7-A9, J2, F9).

Reference: dags/weekly_report.py:24-46 — trailing-7-day scan of
``daily_insights``, then per region: (1) modal ``top_category_id`` over
the window (wk:36), (2) sums/avg restricted to rows whose
``top_category_id`` equals that mode (wk:39-41), thousands-formatted
strings for the totals and a 2-dp-rounded mean for the ratio.

Spark shape: range-pruned scan -> (region, top_category_id) partial
aggregate (row count, the two sums, the mean ratio) -> (region) aggregate
that picks the modal category's partial with ``min_by`` over
``mode.mode_key``. Two exchanges of partials, no join and no window.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.operators.mode import mode_key


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
    per_category = week.groupBy("region", "top_category_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("total_views").alias("views"),
        F.sum("total_likes").alias("likes"),
        F.avg("engagement_ratio").alias("ratio"),
    )
    top = F.struct("top_category_id", "cnt", "views", "likes", "ratio")
    mode = per_category.groupBy("region").agg(
        F.min_by(top, mode_key(F.col("cnt"), F.col("top_category_id"))).alias("top"),
        F.sum("cnt").alias("rows"),
    )
    # the reference sums over rows whose category equals the mode: a NULL
    # mode matches none (0, 0, NULL mean), and a sum is NULL only when
    # every row of the week is a mode row with a NULL value
    in_mode = F.col("top.top_category_id").isNotNull()
    outside = F.when(F.col("rows") > F.col("top.cnt"), F.lit(0))

    def mode_sum(c):
        return F.when(in_mode, F.coalesce(F.col(f"top.{c}"), outside)).otherwise(0)

    agg = mode.select(
        "region",
        F.col("top.top_category_id").alias("top_category"),
        mode_sum("views").alias("total_views_for_top_category"),
        mode_sum("likes").alias("total_likes_for_top_category"),
        F.round(F.when(in_mode, F.col("top.ratio")), 2).alias(
            "average_engagement_ratio"
        ),
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
    return agg.coalesce(1).sortWithinPartitions("region")
