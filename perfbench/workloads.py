"""The pipeline workloads: what one pass runs, how it is checked, and how
the traced run splits it into layers.

``pipeline_backfill`` times the bulk path, bronze day-files to the weekly
report, one whole date range per sample. Its traced run also runs the
daily cadence (:class:`DailyReplay`), one day per sample, replaying each
day's recorded day-file through ``run_daily_ingestion`` to the weekly
report, over consecutive days that start from empty tables.

Outputs are checked after each timed operation, outside its timing, against
the values the bronze generator recorded. A mismatch or an exception fails
that operation only.

The traced pass times each ``pipeline.run_*`` call in its own span and job
group. The layered pass runs the same ``pipeline`` functions under
:class:`LayerHooks`, which materialize the frames the pipeline itself
hands to ``sources``, ``operators`` and ``report`` with a noop write. A
layer's self time is its cumulative boundary time minus that of the
boundary it reads from.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
import sys
import time
import traceback

from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import bronze
from spans import Tracer, counted, median, noop, union_seconds

from youtube_trending_data_pipeline_spark import pipeline
from youtube_trending_data_pipeline_spark.pipeline import (
    PipelineConfig,
    run_backfill_aggregates,
    run_backfill_ingestion,
    run_daily_aggregates,
    run_daily_ingestion,
    run_weekly_report,
)
from youtube_trending_data_pipeline_spark.schemas import CHANNELS
from youtube_trending_data_pipeline_spark.sources.tables import read_table

ITEMS_PER_REGION = 190
TIMED_START = dt.date(2024, 1, 1)
WARM_START = dt.date(2023, 1, 1)  # warm-up range: never overlaps the timed one
WARM_SEED = 0  # warm-up inputs are untimed, so one replica serves every seed
WARM_PASSES = 2  # after one, the next passes are still 10-50% slower than later ones
SPARK_JOBS = ("backfill_ingestion", "backfill_aggregates", "weekly_report")
REPORT_ROW = re.compile(r"<tr><td>([^<]*)</td>")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def days_from(start: dt.date, n: int) -> list[dt.date]:
    return [start + dt.timedelta(days=i) for i in range(n)]


def cached_bronze(work: str, seed: int, dates: list[dt.date], items: int = ITEMS_PER_REGION):
    """Day-files and expected values for (seed, dates, items), generated once.

    Returns (directory, Expected). Generation is outside every timing."""
    key = f"s{seed}-{dates[0]}-{len(dates)}d-{items}i"
    path = os.path.join(work, "bronze", key)
    done = os.path.join(path, "expected.json.done")
    if os.path.exists(done):
        with open(done) as fh:
            return path, bronze.Expected.from_json(json.load(fh))
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    exp = bronze.generate(path, seed, dates, bronze.REGIONS, items)
    with open(done, "w") as fh:
        json.dump(exp.to_json(), fh)
    log(f"generated {key} in {time.perf_counter() - t0:.1f} s")
    return path, exp


def tables(base: str, bronze_dir: str) -> PipelineConfig:
    return PipelineConfig(
        bronze_dir=bronze_dir,
        videos_dir=f"{base}/videos",
        channels_dir=f"{base}/channels",
        insights_dir=f"{base}/insights",
        regions=list(bronze.REGIONS),
    )


def clear(cfg: PipelineConfig) -> None:
    for d in (cfg.videos_dir, cfg.channels_dir, cfg.insights_dir):
        shutil.rmtree(d, ignore_errors=True)


def untraced(_name, fn, *args, **kwargs):
    return fn(*args, **kwargs)


# -- outcomes and output checks ----------------------------------------------


class Outcome:
    """Per-operation samples of one run: seconds, and how many failed."""

    def __init__(self):
        self.seconds: list[float] = []
        self.ok: dict[str, list[float]] = {}  # operation name -> seconds of its passes
        self.failed = 0

    @property
    def attempted(self) -> int:
        return len(self.seconds)

    def latency(self) -> float:
        """Median seconds of the operations that passed (of all, if none did)."""
        return median([s for v in self.ok.values() for s in v] or self.seconds)

    def attempt(self, name: str, op, check) -> None:
        """Time ``op()``; then, untimed, ``check(result)`` -> list of errors."""
        t0 = time.perf_counter()
        try:
            result = op()
        except Exception as exc:  # the run goes on; this operation failed
            errors = [f"{type(exc).__name__}: {str(exc)[:300]}"]
            log(traceback.format_exc())
        else:
            errors = None
        secs = time.perf_counter() - t0
        if errors is None:
            try:
                errors = check(result)
            except Exception as exc:
                errors = [f"check raised {type(exc).__name__}: {str(exc)[:300]}"]
                log(traceback.format_exc())
        self.seconds.append(secs)
        if errors:
            self.failed += 1
            log(f"FAILED {name}: {'; '.join(errors)}")
        else:
            self.ok.setdefault(name, []).append(secs)


def check_tables(spark, cfg, exp, dates, html) -> list[str]:
    """Silver rows, gold rows and sums for ``dates``; one report row per region."""
    errors = []
    where = F.col("date").isin(list(dates))
    want_rows = sum(exp.items[(r, d)] for r in cfg.regions for d in dates)
    got_rows = read_table(spark, cfg.videos_dir).where(where).count()
    if got_rows != want_rows:
        errors.append(f"silver rows {got_rows} != {want_rows}")
    gold = (
        read_table(spark, cfg.insights_dir)
        .where(where)
        .select("region", "date", "total_views", "total_likes", "total_comments")
        .collect()
    )
    got = {(g[0], g[1]): tuple(g[2:]) for g in gold}
    want = {(r, d): exp.totals[(r, d)] for r in cfg.regions for d in dates}
    if len(gold) != len(want):
        errors.append(f"gold rows {len(gold)} != {len(want)}")
    bad = [k for k in want if got.get(k) != want[k]]
    if bad:
        errors.append(f"gold sums differ on {len(bad)} (region, date) keys, e.g. {bad[0]}")
    regions = REPORT_ROW.findall(html)
    if sorted(regions) != sorted(cfg.regions):
        errors.append(f"weekly report has {len(regions)} region rows, want {len(cfg.regions)}")
    return errors


def medians(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: median(r[k] for r in rows if k in r) for k in keys}


def sql_medians(tracer: Tracer, names: dict, span_groups: list[list[dict]]) -> dict:
    """Median over ``span_groups`` of the SQL plan metrics ``names`` maps
    (display name -> metric name) summed over each group's executions."""
    executions = tracer.sql_metrics(tuple(names))
    rows = [tracer.sql_totals(executions, spans) for spans in span_groups]
    return {out: median(r.get(k, 0.0) for r in rows) for k, out in names.items()}


def spark_counters(tracer: Tracer, pass_spans: list[dict]) -> dict:
    """``spark.<job>.<counter>``: medians over passes of each job span's stages."""
    out = {}
    for job in SPARK_JOBS:
        rows = [
            tracer.stage_counters(tracer.named(f"pipeline.{job}", parent=p))
            for p in pass_spans
        ]
        rows = [r for r in rows if r["stages"]]
        for k, v in medians(rows).items():
            out[f"spark.{job}.{k}"] = v
    return out


def job_seconds(tracer: Tracer, jobs, pass_spans: list[dict]) -> dict:
    """``pipeline.<job>_s``: median over passes of each ``run_*`` call's span."""
    return {
        f"pipeline.{job}_s": median(
            s["end"] - s["start"]
            for p in pass_spans for s in tracer.named(f"pipeline.{job}", parent=p)
        )
        for job in jobs
    }


# -- layer boundaries --------------------------------------------------------

# (metric, boundary, base boundary): self time = boundary - base, both
# cumulative seconds from the pipeline's inputs to that boundary.
PIPELINE_EDGES = [
    ("sources.bronze.parse_s", "parse", None),
    ("operators.flatten.self_s", "flatten", "parse"),
    ("sources.tables.write_silver_s", "write_silver", "flatten"),
    ("sources.tables.read_silver_s", "read_silver", None),
    ("operators.insights.self_s", "insights", "read_silver"),
    ("sources.tables.write_gold_s", "write_gold", "insights"),
    ("sources.tables.read_gold_s", "read_gold", None),
    ("operators.weekly.self_s", "weekly", "read_gold"),
    ("report.html.render_s", "render", "weekly"),
]
DAILY_EDGES = PIPELINE_EDGES + [
    ("operators.channels.new_s", "new_channels", "flatten"),
    ("sources.tables.append_channels_s", "append_channels", "new_channels"),
]


class LayerHooks:
    """Within the block, the ``pipeline`` module's calls into ``sources``,
    ``operators`` and ``report`` materialize the frames the pipeline itself
    passes and returns with a noop write, each timed in a tracer span, and
    the channel append is timed on its own. The pipeline's composition is
    the program's own; the hooks only observe it. A boundary the pipeline
    no longer reaches reads 0 and is logged.

    ``cum`` maps boundary -> cumulative seconds, ``counts`` metric -> rows.
    """

    def __init__(self, tracer: Tracer, cfg: PipelineConfig):
        self.tr, self.cfg = tracer, cfg
        self.cum: dict[str, float] = {}
        self.counts: dict[str, int] = {}

    def _boundary(self, name: str, df, count: str | None = None):
        if count is not None:
            df, obs = counted(df)
        self.cum[name] = self.tr.seconds(f"layer.{name}", noop, df)
        if count is not None:
            self.counts[count] = obs.get["rows"]

    def _timed(self, name: str, fn, *args, **kwargs):
        result, self.cum[name] = self.tr.run(f"layer.{name}", fn, *args, **kwargs)
        return result

    def __enter__(self):
        real = {}  # hooked name -> the pipeline module's own function
        real_parquet = DataFrameWriter.parquet
        self._restore = (real, real_parquet)

        def flatten_videos(items, *args, **kwargs):
            self._boundary("parse", items, "sources.bronze.items")
            silver = real["flatten_videos"](items, *args, **kwargs)
            self._boundary("flatten", silver, "sources.tables.silver_rows")
            return silver

        def overwrite_date_partition(df, path, *args, **kwargs):
            name = "write_silver" if path == self.cfg.videos_dir else "write_gold"
            return self._timed(name, real["overwrite_date_partition"], df, path, *args, **kwargs)

        def daily_insights(videos, *args, **kwargs):
            self._boundary("read_silver", videos)
            gold = real["daily_insights"](videos, *args, **kwargs)
            self._boundary("insights", gold, "sources.tables.gold_rows")
            return gold

        def new_channels(*args, **kwargs):
            fresh = real["new_channels"](*args, **kwargs)
            self._boundary("new_channels", fresh, "operators.channels.new_per_day")
            return fresh

        def weekly_insights(insights, *args, **kwargs):
            self._boundary("read_gold", insights)
            report = real["weekly_insights"](insights, *args, **kwargs)
            self._boundary("weekly", report)
            return report

        def render_weekly_html(report, *args, **kwargs):
            return self._timed("render", real["render_weekly_html"], report, *args, **kwargs)

        def parquet(writer, path, *args, **kwargs):
            if path != self.cfg.channels_dir:
                return real_parquet(writer, path, *args, **kwargs)
            return self._timed("append_channels", real_parquet, writer, path, *args, **kwargs)

        hooks = (flatten_videos, overwrite_date_partition, daily_insights,
                 new_channels, weekly_insights, render_weekly_html)
        for hook in hooks:
            real[hook.__name__] = getattr(pipeline, hook.__name__)
            setattr(pipeline, hook.__name__, hook)
        DataFrameWriter.parquet = parquet
        return self

    def __exit__(self, *exc):
        real, real_parquet = self._restore
        for name, fn in real.items():
            setattr(pipeline, name, fn)
        DataFrameWriter.parquet = real_parquet
        return False

    def self_times(self, edges: list[tuple[str, str, str | None]]) -> dict:
        """metric -> self seconds, floored at 0 (a layer cheaper than the
        run-to-run noise of its base reads 0)."""
        out = {}
        for metric, name, base in edges:
            if name not in self.cum or (base and base not in self.cum):
                log(f"layer boundary {name} not reached")
                continue
            out[metric] = max(0.0, self.cum[name] - (self.cum[base] if base else 0.0))
        return {**out, **self.counts}


# -- pipeline_backfill -------------------------------------------------------


class Backfill:
    """Bulk path: one scan of every day-file, then the whole-range rollup."""

    name = "pipeline_backfill"
    timed_days = 15
    warm_days = 15  # a full-size range: the JSON parse reaches its warm speed
    min_passes = 4

    def __init__(self, work: str, seed: int):
        self.dates = days_from(TIMED_START, self.timed_days)
        self.warm_dates = days_from(WARM_START, self.warm_days)
        src, self.exp = cached_bronze(work, seed, self.dates)
        warm_src, _ = cached_bronze(work, WARM_SEED, self.warm_dates)
        self.cfg = tables(f"{work}/backfill", src)
        self.warm_cfg = tables(f"{work}/backfill-warm", warm_src)
        self.layers: list[dict] = []

    @staticmethod
    def _run(spark, cfg, end, call=untraced) -> str:
        call("pipeline.backfill_ingestion", run_backfill_ingestion, spark, cfg)
        call("pipeline.backfill_aggregates", run_backfill_aggregates, spark, cfg)
        _, html = call("pipeline.weekly_report", run_weekly_report, spark, cfg, end)
        return html

    def warm_up(self, spark) -> None:
        for _ in range(WARM_PASSES):
            clear(self.warm_cfg)
            self._run(spark, self.warm_cfg, self.warm_dates[-1])

    def timed_pass(self, spark, out: Outcome, tracer: Tracer | None = None) -> None:
        end = self.dates[-1]
        clear(self.cfg)
        if tracer is None:
            op = lambda: self._run(spark, self.cfg, end)  # noqa: E731
        else:
            def op():
                with tracer.span("pass"):
                    return self._run(spark, self.cfg, end, tracer.call)
        out.attempt(
            "backfill pass", op,
            lambda html: check_tables(spark, self.cfg, self.exp, self.dates, html),
        )

    @staticmethod
    def latency(out: Outcome) -> float:
        return out.latency()

    def layered_pass(self, spark, out: Outcome, tracer: Tracer) -> None:
        end = self.dates[-1]
        clear(self.cfg)
        hooks = LayerHooks(tracer, self.cfg)

        def op():
            with hooks:
                return self._run(spark, self.cfg, end)

        def check(html):
            self.layers.append(hooks.self_times(PIPELINE_EDGES))
            return check_tables(spark, self.cfg, self.exp, self.dates, html)

        out.attempt("layered backfill pass", op, check)

    def layer_metrics(self, tracer: Tracer) -> dict:
        passes = tracer.named("pass")
        out = job_seconds(tracer, SPARK_JOBS, passes)
        out.update(spark_counters(tracer, passes))
        # what the ingestion job's own plan read and wrote, from the SQL store
        out.update(sql_medians(tracer, BACKFILL_SQL, [
            tracer.named("pipeline.backfill_ingestion", parent=p) for p in passes
        ]))
        out.update(medians(self.layers))
        return out


BACKFILL_SQL = {
    "number of files read": "sources.bronze.files",
    "size of files read": "sources.bronze.bytes",
    "number of written files": "sources.tables.silver_files",
    "written output": "sources.tables.silver_bytes",
}


# -- the daily cadence, traced beside pipeline_backfill ----------------------


def channel_feed(spark):
    """Metadata for every channel id the generator can emit, as a frame the
    daily job takes in place of a fetcher (``fetched_channels``)."""
    return spark.range(bronze.N_CHANNELS).select(
        F.format_string("UC%08d", "id").alias("id"),
        F.format_string("channel %08d", "id").alias("channel_name"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in CHANNELS.fields[2:]],
    )


class DailyReplay:
    """Daily cadence: each day replays its recorded day-file through
    ``run_daily_ingestion`` (channel anti-join and append against a channel
    feed), then ``run_daily_aggregates`` and ``run_weekly_report``. Many
    small jobs over growing, date-partitioned tables. Each lane (untimed
    warm-up, traced, layered) keeps its own tables and goes through the
    week in order, emptying its tables before the first day.

    Traced only, beside ``pipeline_backfill``: its day latency follows the
    host's single-thread speed, which drifts too far between runs on a
    4-core VM for an end-to-end bound. Its metrics carry a ``daily.``
    prefix."""

    name = "daily_replay"
    timed_days = 7
    warm_days = 2
    items = 40  # per region-day: per-job overhead, not payload size, sets the day

    def __init__(self, work: str, seed: int):
        self.dates = days_from(TIMED_START, self.timed_days)
        self.warm_dates = days_from(WARM_START, self.warm_days)
        src, self.exp = cached_bronze(work, seed, self.dates, self.items)
        warm_src, _ = cached_bronze(work, WARM_SEED, self.warm_dates, self.items)
        self.lanes = {
            lane: tables(f"{work}/daily-{lane}", src) for lane in ("traced", "layered")
        }
        self.warm_cfg = tables(f"{work}/daily-warm", warm_src)
        self.cursor = dict.fromkeys(self.lanes, 0)
        self.layers: list[dict] = []

    @staticmethod
    def _day(spark, cfg, d, call=untraced) -> str:
        call("pipeline.daily_ingestion", run_daily_ingestion, spark, cfg, d,
             fetched_channels=channel_feed(spark))
        call("pipeline.daily_aggregates", run_daily_aggregates, spark, cfg, d)
        _, html = call("pipeline.weekly_report", run_weekly_report, spark, cfg, d)
        return html

    def warm_up(self, spark) -> None:
        clear(self.warm_cfg)
        for d in self.warm_dates:
            self._day(spark, self.warm_cfg, d)

    def _next_day(self, lane: str):
        """(config, day index) of the lane's next day."""
        cfg, i = self.lanes[lane], self.cursor[lane]
        self.cursor[lane] = (i + 1) % len(self.dates)
        if i == 0:
            clear(cfg)
        return cfg, i

    def _check(self, spark, cfg, i):
        d = self.dates[i]
        want = sum(self.exp.new_channels[x] for x in self.dates[: i + 1])

        def check(html):
            errors = check_tables(spark, cfg, self.exp, [d], html)
            got = read_table(spark, cfg.channels_dir).count()
            return errors + ([] if got == want else [f"channels {got} != {want}"])

        return check

    def timed_pass(self, spark, out: Outcome, tracer: Tracer) -> None:
        cfg, i = self._next_day("traced")
        d = self.dates[i]

        def op():
            with tracer.span("day"):
                return self._day(spark, cfg, d, tracer.call)

        out.attempt(f"day {d}", op, self._check(spark, cfg, i))

    def layered_pass(self, spark, out: Outcome, tracer: Tracer) -> None:
        cfg, i = self._next_day("layered")
        hooks = LayerHooks(tracer, cfg)
        check = self._check(spark, cfg, i)

        def op():
            with hooks:
                return self._day(spark, cfg, self.dates[i])

        def layered_check(html):
            self.layers.append(hooks.self_times(DAILY_EDGES))
            return check(html)

        out.attempt(f"layered day {self.dates[i]}", op, layered_check)

    def layer_metrics(self, tracer: Tracer) -> dict:
        days = tracer.named("day")
        per_day = []
        for day in days:
            kids = tracer.children(day)
            c = tracer.stage_counters(kids)
            busy = union_seconds(tracer.job_intervals(kids), day["start"], day["end"])
            per_day.append({
                "spark.jobs_per_day": sum(len(k["jobs"]) for k in kids),
                "spark.stages_per_day": c["stages"],
                "spark.tasks_per_day": c["tasks"],
                "spark.driver_s_per_day": day["end"] - day["start"] - busy,
            })
        out = medians(per_day)
        out.update(job_seconds(
            tracer, ("daily_ingestion", "daily_aggregates", "weekly_report"), days))
        out.update(medians(self.layers))
        return {f"daily.{k}": v for k, v in out.items()}
