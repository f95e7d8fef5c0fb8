"""End-to-end pipeline jobs — the engine's equivalent of the reference's
three Airflow DAGs (SURVEY §3). Each job is a plain function over Parquet
tables: Airflow's branch/XCom machinery is replaced by idempotent dynamic
partition overwrite and table-to-table handoff. Every table read passes
the table's declared schema (schemas.py), so no job pays a
schema-inference pass.

| reference DAG | here |
|---|---|
| trending_daily_ingestion (ing:218-259) | run_daily_ingestion |
| trending_daily_aggregates (agg:116-143) | run_daily_aggregates |
| weekly_report (wk:114-142)              | run_weekly_report |
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.operators.channels import (
    new_channel_ids,
    new_channels,
)
from youtube_trending_data_pipeline_spark.operators.flatten import flatten_videos
from youtube_trending_data_pipeline_spark.operators.insights import daily_insights
from youtube_trending_data_pipeline_spark.operators.weekly import weekly_insights
from youtube_trending_data_pipeline_spark.report.html import render_weekly_html
from youtube_trending_data_pipeline_spark.schemas import (
    CHANNELS,
    DAILY_INSIGHTS,
    DAILY_TRENDING_VIDEOS,
)
from youtube_trending_data_pipeline_spark.sources.bronze import (
    read_bronze_day,
    read_bronze_days,
    region_items,
)
from youtube_trending_data_pipeline_spark.sources.tables import (
    append_partitioned,
    overwrite_date_partition,
    read_table,
    table_exists,
)


@dataclass
class PipelineConfig:
    """Run parameters — the reference's Airflow Params/Variables (C3),
    with run_date explicit instead of evaluated at import time (F6)."""

    bronze_dir: str
    videos_dir: str
    channels_dir: str
    insights_dir: str
    regions: list[str] = field(default_factory=lambda: ["QA", "US", "DE"])


def run_daily_ingestion(
    spark: SparkSession,
    cfg: PipelineConfig,
    run_date: dt.date,
    fetched_channels: DataFrame | None = None,
    fetcher=None,
) -> DataFrame:
    """bronze day-file -> silver ``daily_trending_videos`` (+ new channels).

    Idempotent: re-running a date replaces exactly that date's partition
    (C1 via dynamic partition overwrite) instead of the reference's
    branch-skip. Returns the silver frame for the day.

    ``fetcher`` (sources.fetchers.TrendingFetcher) is the S1/S2 seam: when
    given, region payloads come from ``fetcher.fetch_trending`` — the
    reference's REST pull (ing:76-82) — and are persisted as the raw
    bronze day (ing:83-91) before flattening; new-channel metadata comes
    from ``fetcher.fetch_channels`` over the anti-joined id set (ing:94-97)
    unless an explicit ``fetched_channels`` frame overrides it. Without a
    fetcher, the bronze day-file is read from ``cfg.bronze_dir`` directly.
    """
    day_path = f"{cfg.bronze_dir}/{run_date.isoformat()}.json"
    if fetcher is not None:
        from youtube_trending_data_pipeline_spark.sources.bronze import (
            write_bronze_day,
        )
        from youtube_trending_data_pipeline_spark.sources.fetchers import (
            bronze_from_fetcher,
        )

        bronze = bronze_from_fetcher(spark, fetcher, cfg.regions)
        # raw S3-parity sink (ing:83-91), in the replayable day-file shape
        write_bronze_day(bronze, day_path, cfg.regions)
    else:
        bronze = read_bronze_day(spark, day_path, cfg.regions)
    silver = flatten_videos(region_items(bronze), run_date)
    overwrite_date_partition(silver, cfg.videos_dir)
    if fetched_channels is not None or fetcher is not None:
        # one read of the channels table; on the first run it does not
        # exist yet, and any other read failure raises
        if table_exists(spark, cfg.channels_dir):
            known = read_table(spark, cfg.channels_dir, CHANNELS)
        else:
            known = spark.createDataFrame([], CHANNELS)
        if fetched_channels is None:
            from youtube_trending_data_pipeline_spark.sources.fetchers import (
                channels_from_fetcher,
            )

            # the metadata fetch runs executor-side over the anti-joined id
            # frame in bounded batches (the reference loops the ids on the
            # driver, ing:135-138 — unbounded there on a first-run backfill;
            # here no id list ever lands on the driver)
            ids_df = new_channel_ids(silver, known)
            if not ids_df.isEmpty():
                fetched_channels = channels_from_fetcher(ids_df, fetcher)
        if fetched_channels is not None:
            fresh = new_channels(silver, known, fetched_channels)
            fresh.write.mode("append").parquet(cfg.channels_dir)
    return read_table(spark, cfg.videos_dir, DAILY_TRENDING_VIDEOS).where(
        f"date = '{run_date}'"
    )


def run_backfill_ingestion(
    spark: SparkSession, cfg: PipelineConfig, strict: bool = False
) -> DataFrame:
    """Multi-year bronze backfill as ONE Spark job (round 9, scale path).

    The reference backfills by looping its daily DAG one Airflow dagrun
    per date (dags/trending_daily_ingestion.py:218-259 scheduled
    per-day); at 50 regions x years that is thousands of sequential
    runs. Here every ``YYYY-MM-DD.json`` day-file under
    ``cfg.bronze_dir`` is one input task of a single job
    (:func:`read_bronze_days` stamps each row with its file's date), so
    a 1000-executor cluster ingests the whole range with full
    parallelism, and dynamic partition overwrite keeps the load
    idempotent per date exactly like the daily job. Channel-dimension
    maintenance still goes through the daily fetcher seam — a backfill
    replays persisted bronze, it does not re-fetch.

    Measured at ~10^7 videos (SCALING.md 'Domain pipeline at scale'):
    the whole silver load is one scan + one partitioned write, no
    shuffle at all.
    """
    bronze = read_bronze_days(
        spark, f"{cfg.bronze_dir}/*.json", cfg.regions, strict=strict
    )
    items = bronze.select(
        "file_date", "region", F.explode("response.items").alias("item")
    )
    silver = flatten_videos(items, F.col("file_date"))
    overwrite_date_partition(silver, cfg.videos_dir)
    return read_table(spark, cfg.videos_dir, DAILY_TRENDING_VIDEOS)


def run_backfill_aggregates(
    spark: SparkSession, cfg: PipelineConfig
) -> DataFrame:
    """Whole-range silver -> gold in ONE job: ``daily_insights`` already
    groups by (region, date), so the multi-year rollup is the same
    operator over every date partition at once — partial-aggregated
    shuffles on the (region, date, category) and (region, date) grains
    instead of one job per day."""
    videos = read_table(spark, cfg.videos_dir, DAILY_TRENDING_VIDEOS)
    gold = daily_insights(videos)
    overwrite_date_partition(gold, cfg.insights_dir)
    return read_table(spark, cfg.insights_dir, DAILY_INSIGHTS)


def run_daily_aggregates(
    spark: SparkSession, cfg: PipelineConfig, run_date: dt.date
) -> DataFrame:
    """silver videos (one date partition) -> gold ``daily_insights``."""
    videos = read_table(spark, cfg.videos_dir, DAILY_TRENDING_VIDEOS).where(
        f"date = '{run_date}'"
    )
    gold = daily_insights(videos)
    overwrite_date_partition(gold, cfg.insights_dir)
    return read_table(spark, cfg.insights_dir, DAILY_INSIGHTS).where(
        f"date = '{run_date}'"
    )


def run_weekly_report(
    spark: SparkSession,
    cfg: PipelineConfig,
    end_date: dt.date,
    sender=None,
    recipients: list[str] | None = None,
) -> tuple[DataFrame, str]:
    """gold insights (trailing 7 days) -> report frame + rendered HTML.

    ``sender`` (report.delivery.ReportSender) is the S11 seam: when given,
    the rendered HTML is delivered with the reference's subject shape
    (weekly_report.py:90-109) — e-mail, file audit trail, or anything else
    implementing ``send``. Rendering is unchanged either way.
    """
    insights = read_table(spark, cfg.insights_dir, DAILY_INSIGHTS)
    report = weekly_insights(insights, end_date, formatted=True)
    html = render_weekly_html(report)
    if sender is not None:
        sender.send(
            f"Weekly Trending Report {end_date.isoformat()}",
            html,
            recipients or [],
        )
    return report, html
