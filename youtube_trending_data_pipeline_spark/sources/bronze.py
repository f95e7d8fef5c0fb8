"""Bronze layer: raw per-day JSON documents.

Reference shape (SURVEY.md §1.2): one JSON object per day mapping region
code -> a verbatim YouTube ``videoListResponse``
(dags/trending_daily_ingestion.py:76-91). The engine reads each day-file
once as whole-file text and parses it with the declared
``schemas.RAW_DAY`` map schema — no inference pass over 100 TB of JSON,
and no per-region column: unknown region keys need no schema change
(SURVEY §1.4). :func:`demultiplex` then turns the map into one row per
requested region, and :func:`region_items` into one row per (region,
item): the reference's nested ``for region: for video:`` loops
(ing:154-160) become two explodes that Catalyst parallelizes per file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from youtube_trending_data_pipeline_spark.schemas import RAW_DAY

DEFAULT_REGIONS = ["QA", "US", "DE"]  # the reference's DEFAULT_REGIONS (ing:29)


def _sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def demultiplex(
    days: DataFrame, regions: list[str], strict: bool = False, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Whole-file day-file text (column ``value``) -> (*keep, region, response).

    Each file is parsed once as a ``RAW_DAY`` region -> response map. A
    region yields a row only if it was requested and its response is not
    null — the reference's ``if region in today_json`` guard (ing:155,
    P7). A region key repeated within one file keeps its LAST value, as a
    JSON object read does (the map parse itself keeps every duplicate).

    ``strict=False`` parses PERMISSIVE: a malformed day-file parses to a
    null map and yields no rows — ingestion survives one bad file out of
    thousands. ``strict=True`` uses FAILFAST for backfills where silent
    data loss is worse than an abort.
    """
    mode = "FAILFAST" if strict else "PERMISSIVE"
    parsed = days.select(
        *keep, F.from_json("value", RAW_DAY, {"mode": mode}).alias("day")
    )
    wanted = ", ".join(_sql_string(r) for r in regions)
    last_wanted = (
        "filter(map_entries(day), (e, i) -> e.value IS NOT NULL"
        f" AND e.key IN ({wanted})"
        " AND NOT array_contains(slice(map_keys(day), i + 2, size(day)), e.key))"
    )
    return parsed.selectExpr(*keep, f"inline({last_wanted}) AS (region, response)")


def read_bronze_day(
    spark: SparkSession,
    path: str,
    regions: list[str] | None = None,
    strict: bool = False,
) -> DataFrame:
    """Read day-file(s) at ``path`` -> columns (region, response).

    Absent regions produce no rows (see :func:`demultiplex`, which also
    describes ``strict``). ``regions`` defaults to the reference's
    DEFAULT_REGIONS (ing:29); at scale pass the full region list — the
    scan stays one parse per file regardless.
    """
    days = spark.read.text(path, wholetext=True)
    return demultiplex(days, regions or DEFAULT_REGIONS, strict)


def read_bronze_days(
    spark: SparkSession,
    path_glob: str,
    regions: list[str] | None = None,
    strict: bool = False,
) -> DataFrame:
    """Bulk multi-day scan: like :func:`read_bronze_day` but ONE pass
    over a glob of day-files, each row carrying its own ``file_date``
    (parsed from the ``YYYY-MM-DD.json`` filename) — the backfill path.

    The reference can only backfill by looping its daily DAG run-by-run
    (one Airflow dagrun per date, dags/trending_daily_ingestion.py:218);
    here a multi-year backfill is a single Spark job: every day-file is
    one input task, so a 1000-executor cluster ingests N years with the
    same code and N-fold parallelism instead of N sequential runs.

    A ``.json`` file whose name does NOT carry a ``YYYY-MM-DD`` date
    gets ``file_date = NULL`` — its rows are KEPT and land in the null
    date partition rather than being dropped silently, so a misnamed
    file is visible in the output instead of vanishing (the pipeline
    itself always writes date-named files; this only bites foreign
    files placed in the bronze directory). The date is parsed with
    ``try_to_date``: under ANSI mode ``to_date`` of the empty match raises.

    Output: (file_date, region, response).
    """
    days = spark.read.text(path_glob, wholetext=True).withColumn(
        "file_date",
        F.try_to_date(
            F.regexp_extract(F.input_file_name(), r"(\d{4}-\d{2}-\d{2})\.json", 1)
        ),
    )
    return demultiplex(days, regions or DEFAULT_REGIONS, strict, keep=("file_date",))


def region_items(bronze: DataFrame) -> DataFrame:
    """(region, response) -> one row per (region, item) (J4 second explode)."""
    return bronze.select(
        "region", F.explode("response.items").alias("item")
    )


def write_bronze_day(
    bronze: DataFrame, path: str, regions: list[str] | None = None
) -> None:
    """Persist the raw day (S3 sink parity: ing:83-91) as JSON under ``path``.

    Written in the reference's day-file shape — ONE JSON object mapping
    region code -> response (assets/2025-10-06.json) — so the sink's
    output is readable by :func:`read_bronze_day`: (region, response)
    rows pivot to one wide row whose columns are the region codes.
    Passing ``regions`` skips the tiny distinct-scan pivot inference."""
    if regions is None:
        regions = sorted(
            r["region"] for r in bronze.select("region").distinct().collect()
        )
    if not regions:  # nothing fetched today: persist an empty day object
        bronze.sparkSession.createDataFrame([()], StructType([])).coalesce(
            1
        ).write.mode("overwrite").json(path)
        return
    day = (
        bronze.groupBy()
        .pivot("region", regions)
        .agg(F.first("response"))
        .coalesce(1)
    )
    day.write.mode("overwrite").json(path)
