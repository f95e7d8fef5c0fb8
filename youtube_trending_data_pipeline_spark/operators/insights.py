"""Gold aggregation: per-(region, date) daily insights (SURVEY §2 A1-A6, W1).

Reference: dags/trending_daily_aggregates.py:52-111 implements group-by as
a Python loop over ``set(df["region"])`` with boolean-mask partitions and
per-group pandas reductions. The Spark formulation is two aggregates: a
(region, date, category_id) partial aggregate that carries each metric's
sum, non-null count and maximum plus the category's row count, then one
(region, date) aggregate that folds those partials and picks the modal
category with ``min_by`` — no separate mode count, window or join.

Semantics faithfully reproduced:
* averages rounded to 2 dp (agg:69,72,75): the exact integer sum over
  the non-NULL count, which equals ``avg``'s double-accumulated sum while
  sums stay below 2^53; NULL when a group has no non-NULL value
* engagement_ratio = (likes + 2*comments)/views * 1000, 0 when views==0,
  UNROUNDED (agg:79-84)
* top_category_id = per-group modal category_id cast to int (agg:87-88);
  tie-break as in operators/mode.py (``cnt DESC, value ASC`` with NULL
  first, or first-seen with ``order_col``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.operators.mode import mode_key

_METRICS = ("views", "likes", "comments")


def daily_insights(videos: DataFrame, order_col: str | None = None) -> DataFrame:
    """silver ``daily_trending_videos`` -> gold ``daily_insights``."""
    partial = [F.count(F.lit(1)).alias("cnt")]
    for m in _METRICS:
        c = f"{m}_count"
        partial += [
            F.sum(c).alias(f"sum_{m}"),
            F.count(c).alias(f"n_{m}"),
            F.max(c).alias(f"max_{m}"),
        ]
    first_seen = None
    if order_col is not None:
        partial.append(F.min(order_col).alias("first_seen"))
        first_seen = F.col("first_seen")
    per_category = videos.groupBy("region", "date", "category_id").agg(*partial)

    final = []
    for m in _METRICS:
        total = F.sum(f"sum_{m}")
        final += [
            total.alias(f"total_{m}"),
            # try_divide: a group without one non-NULL value averages
            # to NULL, like avg(), instead of raising under ANSI mode
            F.round(F.try_divide(total, F.sum(f"n_{m}")), 2).alias(f"average_{m}"),
            F.max(f"max_{m}").alias(f"highest_{m}"),
        ]
    final.append(
        F.min_by(
            "category_id", mode_key(F.col("cnt"), F.col("category_id"), first_seen)
        ).alias("top_category_id")
    )
    gold = per_category.groupBy("region", "date").agg(*final)
    return gold.select(
        "region",
        "date",
        *[f"{p}_{m}" for m in _METRICS for p in ("total", "average", "highest")],
        F.when(
            F.col("total_views") > 0,
            (F.col("total_likes") + 2 * F.col("total_comments"))
            / F.col("total_views")
            * 1000.0,
        )
        .otherwise(F.lit(0.0))
        .alias("engagement_ratio"),
        F.col("top_category_id").cast("long"),
    )
