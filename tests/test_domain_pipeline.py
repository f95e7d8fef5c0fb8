"""End-to-end bronze -> silver -> gold -> weekly report on a synthetic
day-file (FIXTURES.md §§1-6), asserting the reference's documented
semantics (SURVEY.md §2)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.operators.flatten import flatten_videos
from youtube_trending_data_pipeline_spark.operators.insights import daily_insights
from youtube_trending_data_pipeline_spark.operators.weekly import weekly_insights
from youtube_trending_data_pipeline_spark.sources.bronze import (
    read_bronze_day,
    region_items,
)

RUN_DATE = dt.date(2025, 10, 6)


def _silver(spark, bronze_day_path):
    bronze = read_bronze_day(spark, bronze_day_path)
    return flatten_videos(region_items(bronze), RUN_DATE)


def test_bronze_read_demultiplex(spark, bronze_day_path):
    bronze = read_bronze_day(spark, bronze_day_path)
    assert bronze.count() == 3
    assert set(r["region"] for r in bronze.select("region").collect()) == {"QA", "US", "DE"}
    # requesting an absent region yields no row for it (P7, ing:155)
    bronze2 = read_bronze_day(spark, bronze_day_path, regions=["QA", "FR"])
    assert [r["region"] for r in bronze2.select("region").collect()] == ["QA"]


def test_corrupt_day_file_handling(spark, tmp_path):
    import pytest

    bad = tmp_path / "bad.json"
    bad.write_text('{"QA": {"items": [')  # truncated JSON
    # permissive: corrupt file -> zero rows, job survives (ingest at scale)
    out = read_bronze_day(spark, str(bad))
    assert out.count() == 0
    # strict: backfills fail loudly instead of silently dropping data
    with pytest.raises(Exception):
        read_bronze_day(spark, str(bad), strict=True).collect()


def test_flatten_schema_and_defaults(spark, bronze_day_path):
    silver = _silver(spark, bronze_day_path)
    rows = silver.collect()
    assert len(rows) == 60
    by_id = {r["id"]: r for r in rows}
    # missing likeCount/commentCount default to 0 (ing:170-171)
    r3 = by_id["vid-QA-3"]
    assert r3["likes_count"] == 0 and r3["comments_count"] == 0
    assert r3["views_count"] == 4000
    # category stays a string (ing:168)
    assert isinstance(r3["category_id"], str)
    # durations: i=0 -> PT45S, i=2 -> PT1H2M3S, i=3 -> P1DT2H
    assert by_id["vid-QA-0"]["duration"] == 45
    assert by_id["vid-QA-2"]["duration"] == 3723
    assert by_id["vid-QA-3"]["duration"] == 93600
    # naive UTC timestamp (ing:44-45)
    assert by_id["vid-QA-0"]["publish_date"] == dt.datetime(2025, 10, 1, 12, 30)


def test_daily_insights_semantics(spark, bronze_day_path):
    silver = _silver(spark, bronze_day_path)
    gold = daily_insights(silver)
    rows = {r["region"]: r for r in gold.collect()}
    assert set(rows) == {"QA", "US", "DE"}
    qa = rows["QA"]
    # recompute expected with plain python
    data = [r.asDict() for r in silver.where(F.col("region") == "QA").collect()]
    views = [d["views_count"] for d in data]
    likes = [d["likes_count"] for d in data]
    comments = [d["comments_count"] for d in data]
    assert qa["total_views"] == sum(views)
    assert qa["highest_views"] == max(views)
    assert qa["average_views"] == round(sum(views) / len(views), 2)
    expected_ratio = (sum(likes) + 2 * sum(comments)) / sum(views) * 1000
    assert abs(qa["engagement_ratio"] - expected_ratio) < 1e-9
    # modal category: i%3==0 -> "10" for 7 of 20 items -> top, cast to int
    assert qa["top_category_id"] == 10


def test_engagement_zero_guard(spark):
    # views == 0 -> engagement_ratio 0 (agg:82-84)
    df = spark.createDataFrame(
        [("QA", dt.date(2025, 10, 6), 0, 5, 1, "10")],
        "region string, date date, views_count long, likes_count long, "
        "comments_count long, category_id string",
    )
    out = daily_insights(df).collect()[0]
    assert out["engagement_ratio"] == 0.0


def test_mode_tie_break_deterministic(spark):
    from youtube_trending_data_pipeline_spark.operators.mode import mode_per_group

    df = spark.createDataFrame(
        [("r", "b"), ("r", "b"), ("r", "a"), ("r", "a"), ("r", "c")],
        "g string, v string",
    )
    out = mode_per_group(df, ["g"], "v").collect()
    # tie between a and b (2 each) -> value-ascending tie-break -> "a"
    assert out[0]["mode_v"] == "a"


def test_weekly_insights(spark, bronze_day_path):
    # build 7 days of gold by shifting the single synthetic day
    silver = _silver(spark, bronze_day_path)
    days = [
        silver.withColumn("date", F.date_add(F.lit(RUN_DATE), -i))
        for i in range(7)
    ]
    all_silver = days[0]
    for d in days[1:]:
        all_silver = all_silver.unionByName(d)
    gold = daily_insights(all_silver)
    assert gold.count() == 21
    report = weekly_insights(gold, RUN_DATE, formatted=False)
    rows = report.collect()
    assert [r["region"] for r in rows] == ["DE", "QA", "US"]  # orderBy region
    r0 = rows[0]
    # every day has the same insights -> top_category is the daily mode,
    # and the conditional sums cover all 7 days
    one_day = {r["region"]: r for r in daily_insights(silver).collect()}["DE"]
    assert r0["top_category"] == one_day["top_category_id"]
    assert r0["total_views_for_top_category"] == 7 * one_day["total_views"]
    assert r0["average_engagement_ratio"] == round(one_day["engagement_ratio"], 2)


def test_weekly_formatted_output(spark, bronze_day_path):
    silver = _silver(spark, bronze_day_path)
    gold = daily_insights(silver)
    report = weekly_insights(gold, RUN_DATE, formatted=True)
    row = report.collect()[0]
    assert "," in row["total_views_for_top_category"]  # thousands separators (F9)


def _gold(spark, rows):
    """daily_insights rows from (region, days before RUN_DATE, total_views,
    total_likes, engagement_ratio, top_category_id)."""
    from youtube_trending_data_pipeline_spark.schemas import DAILY_INSIGHTS

    return spark.createDataFrame(
        [
            (r, RUN_DATE - dt.timedelta(days=back), v, 0.0, 0, lk, 0.0, 0, 0, 0.0, 0, er, cat)
            for r, back, v, lk, er, cat in rows
        ],
        DAILY_INSIGHTS,
    )


def test_weekly_insights_sums_only_the_modal_rows(spark):
    from youtube_trending_data_pipeline_spark.operators.mode import mode_per_group
    from youtube_trending_data_pipeline_spark.operators.weekly import weekly_window
    from youtube_trending_data_pipeline_spark.plans.explain import physical_plan

    gold = _gold(spark, [
        # E: category 1 is the mode; category 2's rows stay out of the sums,
        # and its rows before the window would have made it the mode
        ("E", 0, 10, 1, 1.0, 1), ("E", 1, 20, 2, 3.0, 1), ("E", 2, 99, 9, 9.0, 2),
        ("E", 7, 500, 50, 50.0, 2), ("E", 8, 500, 50, 50.0, 2),
        # A: a NULL mode selects no row -> 0, 0 and a NULL mean
        ("A", 0, 10, 1, 1.0, None), ("A", 1, 20, 2, 2.0, None), ("A", 2, 30, 3, 3.0, 9),
        # B: NULL ties 9 -> NULL wins
        ("B", 0, 10, 1, 1.0, None), ("B", 1, 20, 2, 2.0, 9),
        # C: 10 ties 9 -> the smaller value wins
        ("C", 0, 10, 1, 1.0, 10), ("C", 1, 20, 2, 2.0, 9),
        # D: the mean skips a NULL ratio
        ("D", 0, 10, 1, None, 5), ("D", 1, 20, 2, 4.0, 5), ("D", 2, 5, 5, 7.0, 6),
    ])
    report = weekly_insights(gold, RUN_DATE, formatted=False)
    got = {r["region"]: tuple(r)[1:] for r in report.collect()}
    assert got == {
        "A": (None, 0, 0, None),
        "B": (None, 0, 0, None),
        "C": (9, 20, 2, 2.0),
        "D": (5, 30, 3, 4.0),
        "E": (1, 30, 3, 2.0),
    }
    modes = mode_per_group(weekly_window(gold, RUN_DATE), ["region"], "top_category_id")
    assert {r["region"]: r["mode_top_category_id"] for r in modes.collect()} == {
        k: v[0] for k, v in got.items()
    }
    plan = physical_plan(report)
    assert "Window" not in plan and "BroadcastHashJoin" not in plan, plan


def test_weekly_insights_null_sums(spark):
    # a sum over modal rows whose values are all NULL is 0 when the week
    # has other rows and NULL when every row is modal, as sum(when(..))
    # over the week gives
    gold = _gold(spark, [
        ("F", 0, None, None, None, 3), ("F", 1, None, 4, None, 3),
        ("G", 0, None, None, 1.0, 3), ("G", 1, None, None, 2.0, 3), ("G", 2, 7, 7, 3.0, 4),
    ])
    got = {r["region"]: tuple(r)[1:] for r in weekly_insights(gold, RUN_DATE, formatted=False).collect()}
    assert got == {"F": (3, None, 4, None), "G": (3, 0, 0, 1.5)}


def test_new_channels_anti_join(spark, bronze_day_path):
    from youtube_trending_data_pipeline_spark.operators.channels import (
        new_channel_ids,
        new_channels,
    )

    silver = _silver(spark, bronze_day_path)
    known = spark.createDataFrame(
        [(f"ch-QA-{i}",) for i in range(4)] + [(f"ch-US-{i}",) for i in range(4)],
        "id string",
    )
    ids = new_channel_ids(silver, known)
    got = sorted(r["channel_id"] for r in ids.collect())
    assert got == [f"ch-DE-{i}" for i in range(4)]  # dedup within batch (C5)

    fetched = spark.createDataFrame(
        [(f"ch-DE-{i}", f"name{i}", None, dt.datetime(2020, 1, 1), None, None, None, None, None)
         for i in range(4)] + [("ch-QA-0", "known", None, dt.datetime(2020, 1, 1), None, None, None, None, None)],
        "id string, channel_name string, country string, creation_date timestamp_ntz, "
        "made_for_kids boolean, subscribers_count long, views_count long, videos_count long, keywords string",
    )
    out = new_channels(silver, known, fetched)
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {f"ch-DE-{i}" for i in range(4)}  # known id filtered out
    assert rows["ch-DE-0"]["country"] == "Unkown"  # sic default (ing:101)
    assert rows["ch-DE-0"]["made_for_kids"] is False
    assert rows["ch-DE-0"]["subscribers_count"] == 0
    assert rows["ch-DE-0"]["keywords"] == ""


def test_idempotent_partition_overwrite(spark, bronze_day_path, tmp_path):
    from youtube_trending_data_pipeline_spark.sources.tables import (
        overwrite_date_partition,
        partition_exists,
    )

    silver = _silver(spark, bronze_day_path)
    path = str(tmp_path / "videos")
    overwrite_date_partition(silver, path)
    overwrite_date_partition(silver, path)  # re-run: no duplicates (C1)
    back = spark.read.parquet(path)
    assert back.count() == 60
    assert partition_exists(spark, path, RUN_DATE)
    assert not partition_exists(spark, path, dt.date(1999, 1, 1))


# -- day-file parse semantics ---------------------------------------------


def _response(*ids):
    return {"items": [{"id": i} for i in ids]}


def _day_text(pairs):
    """A day-file body from (region, response) pairs, keys in order and
    possibly repeated (json.dumps of a dict cannot repeat a key)."""
    import json

    return "{" + ", ".join(f"{json.dumps(k)}: {json.dumps(v)}" for k, v in pairs) + "}"


def _regions_items(df):
    return sorted(
        (r["region"], [i["id"] for i in r["response"]["items"]]) for r in df.collect()
    )


def test_day_file_repeated_region_keeps_last_value(spark, tmp_path):
    from youtube_trending_data_pipeline_spark.sources.bronze import read_bronze_days

    path = tmp_path / "2025-10-06.json"
    path.write_text(_day_text([
        ("QA", _response("qa-1")), ("US", _response("us-1")),
        ("QA", _response("qa-2")),
        # a repeat whose last value is null drops the region, like the
        # null overwriting a JSON object field
        ("DE", _response("de-1")), ("DE", None),
    ]))
    want = [("QA", ["qa-2"]), ("US", ["us-1"])]
    assert _regions_items(read_bronze_day(spark, str(path))) == want
    days = read_bronze_days(spark, str(tmp_path / "*.json"))
    assert _regions_items(days) == want
    assert {r["file_date"] for r in days.collect()} == {RUN_DATE}


def test_day_file_ignores_unrequested_regions(spark, tmp_path):
    path = tmp_path / "2025-10-06.json"
    path.write_text(_day_text([
        ("FR", _response("fr-1")), ("QA", _response("qa-1")), ("JP", _response("jp-1")),
    ]))
    got = read_bronze_day(spark, str(path), regions=["QA", "US"])
    assert _regions_items(got) == [("QA", ["qa-1"])]


def test_backfill_scan_truncated_file(spark, tmp_path):
    import pytest

    from youtube_trending_data_pipeline_spark.sources.bronze import read_bronze_days

    (tmp_path / "2025-10-05.json").write_text(_day_text([("QA", _response("qa-1"))]))
    (tmp_path / "2025-10-06.json").write_text('{"QA": {"items": [')  # truncated
    glob = str(tmp_path / "*.json")
    # permissive: the truncated file gives no rows, the good one is kept
    rows = read_bronze_days(spark, glob).collect()
    assert [(r["file_date"], r["region"]) for r in rows] == [
        (dt.date(2025, 10, 5), "QA")
    ]
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        read_bronze_days(spark, glob, strict=True).collect()


def test_backfill_scan_keeps_misnamed_file_with_null_date(spark, tmp_path):
    from youtube_trending_data_pipeline_spark.sources.bronze import read_bronze_days

    (tmp_path / "2025-10-06.json").write_text(_day_text([("QA", _response("a"))]))
    (tmp_path / "latest.json").write_text(_day_text([("US", _response("b"))]))
    rows = read_bronze_days(spark, str(tmp_path / "*.json")).collect()
    got = sorted((r["region"], r["file_date"]) for r in rows)
    assert got == [("QA", RUN_DATE), ("US", None)]


# -- daily_insights: modal category and averages ---------------------------


def _videos(spark, rows):
    """(region, category_id, views, likes, comments, ord) -> silver rows."""
    return spark.createDataFrame(
        [(r, RUN_DATE, c, v, l, m, o) for r, c, v, l, m, o in rows],
        "region string, date date, category_id string, views_count long, "
        "likes_count long, comments_count long, ord long",
    )


def test_daily_insights_mode_matches_mode_per_group_order(spark):
    from youtube_trending_data_pipeline_spark.operators.mode import mode_per_group

    videos = _videos(spark, [
        # A: NULL ties "24" for most frequent -> NULL first
        ("A", None, 1, 1, 1, 0), ("A", None, 1, 1, 1, 1),
        ("A", "24", 1, 1, 1, 2), ("A", "24", 1, 1, 1, 3), ("A", "7", 1, 1, 1, 4),
        # B: "10" ties "9" -> string order, "10" < "9"
        ("B", "9", 1, 1, 1, 0), ("B", "10", 1, 1, 1, 1),
        # C: a strict majority wins whatever the order
        ("C", "3", 1, 1, 1, 0), ("C", "25", 1, 1, 1, 1), ("C", "25", 1, 1, 1, 2),
    ])
    got = {r["region"]: r["top_category_id"] for r in daily_insights(videos).collect()}
    assert got == {"A": None, "B": 10, "C": 25}
    modes = mode_per_group(videos, ["region", "date"], "category_id").collect()
    want = {r["region"]: r["mode_category_id"] for r in modes}
    assert {k: None if v is None else int(v) for k, v in want.items()} == got


def test_daily_insights_mode_first_seen_with_order_col(spark):
    from youtube_trending_data_pipeline_spark.operators.mode import mode_per_group

    videos = _videos(spark, [
        ("B", "9", 1, 1, 1, 5), ("B", "10", 1, 1, 1, 8), ("B", "10", 1, 1, 1, 6),
        ("B", "9", 1, 1, 1, 7),
        # a NULL category seen first wins its tie too
        ("D", "10", 1, 1, 1, 3), ("D", None, 1, 1, 1, 1),
    ])
    got = daily_insights(videos, order_col="ord").collect()
    assert {r["region"]: r["top_category_id"] for r in got} == {"B": 9, "D": None}
    modes = mode_per_group(
        videos, ["region", "date"], "category_id", order_col="ord"
    ).collect()
    assert {r["region"]: r["mode_category_id"] for r in modes} == {"B": "9", "D": None}


def test_daily_insights_all_null_counts(spark):
    # ANSI mode (Spark 4's default) raises on a divide by zero; a group
    # with no non-NULL count must still give NULL averages, like avg()
    videos = _videos(spark, [
        ("A", "10", None, None, None, 0), ("A", "10", None, None, None, 1),
        ("B", "10", 10, 3, None, 0), ("B", "20", None, 4, None, 1),
    ])
    rows = {r["region"]: r for r in daily_insights(videos).collect()}
    a, b = rows["A"], rows["B"]
    for m in ("views", "likes", "comments"):
        assert a[f"total_{m}"] is None
        assert a[f"average_{m}"] is None
        assert a[f"highest_{m}"] is None
    assert a["engagement_ratio"] == 0.0
    assert (b["total_views"], b["average_views"], b["highest_views"]) == (10, 10.0, 10)
    assert (b["total_likes"], b["average_likes"]) == (7, 3.5)
    assert b["average_comments"] is None


def test_partition_exists_raises_on_unreadable_table(spark, tmp_path):
    import pytest

    from youtube_trending_data_pipeline_spark.sources.tables import partition_exists

    assert not partition_exists(spark, str(tmp_path / "missing"), RUN_DATE)
    (tmp_path / "empty").mkdir()
    assert not partition_exists(spark, str(tmp_path / "empty"), RUN_DATE)
    junk = tmp_path / "junk"
    junk.mkdir()
    (junk / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(Exception):
        partition_exists(spark, str(junk), RUN_DATE)
