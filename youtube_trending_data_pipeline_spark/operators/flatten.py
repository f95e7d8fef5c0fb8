"""Bronze -> silver flatten/projection (SURVEY §2 P1, F1-F3).

Reference: the per-item row-building loop at
dags/trending_daily_ingestion.py:160-178 — 4-level nested dict access with
``.get(k, 0)`` defaults, ``isodate`` duration parsing and naive-UTC
timestamp normalization. Here it is a single ``select`` over the exploded
items: pure column expressions, fully codegen'd, no Python per row.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.functions.durations import (
    iso8601_duration_seconds,
)
from youtube_trending_data_pipeline_spark.functions.timestamps import parse_naive_utc


def _count(col):
    # stringified count with missing -> 0 default (ing:170-172, F3);
    # try_cast tolerates malformed strings at scale (ANSI-safe)
    return F.coalesce(col.try_cast("long"), F.lit(0))


def flatten_videos(items: DataFrame, run_date: dt.date | Column) -> DataFrame:
    """(region, item) rows -> ``daily_trending_videos`` silver schema.

    ``run_date`` is an explicit parameter — the reference computes it once
    at module import in Asia/Qatar (ing:32-33); injecting it keeps runs
    deterministic and backfillable. It may also be a COLUMN (the bulk
    backfill passes the per-file date from ``read_bronze_days``), so one
    flatten serves both the daily job and a multi-year single-job
    backfill.
    """
    date_expr = (
        run_date if isinstance(run_date, Column) else F.lit(run_date)
    )
    return items.select(
        F.col("item.id").alias("id"),
        date_expr.cast("date").alias("date"),
        F.col("item.snippet.categoryId").alias("category_id"),  # stays STRING (ing:168)
        F.col("item.snippet.channelId").alias("channel_id"),
        _count(F.col("item.statistics.commentCount")).alias("comments_count"),
        _count(F.col("item.statistics.likeCount")).alias("likes_count"),
        _count(F.col("item.statistics.viewCount")).alias("views_count"),
        iso8601_duration_seconds("item.contentDetails.duration").alias("duration"),
        F.col("item.snippet.title").alias("title"),
        parse_naive_utc(F.col("item.snippet.publishedAt")).alias("publish_date"),
        F.col("region").alias("region"),
    )
