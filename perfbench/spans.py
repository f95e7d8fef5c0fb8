"""Spans and Spark counters for the traced benchmark run.

Every span is a named wall-clock interval with a parent. A span that runs
Spark work does so under its own job group; when it ends, the tracer records
the group's job and stage ids from ``statusTracker()``. Stage counters and
task-time quantiles come from the core status store, plan metrics from the
SQL status store. None of this starts a Spark action. Spans stay in memory
until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import itertools
import json
import re
import statistics
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# SQL metric text -> number: "1,234", "12.3 KiB", "850 ms"; a metric summed
# over several tasks reads "total (min, med, max ...)\n<total> (...)".
SQL_VALUE = re.compile(r"([\d.,]+)\s*([A-Za-z]*)")
SQL_UNITS = {
    "": 1, "ms": 1e-3, "s": 1, "m": 60, "h": 3600,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
STAGE_COUNTERS = (
    "stages", "tasks", "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "executor_cpu_s", "jvm_gc_s", "task_skew",
)


def noop(df: DataFrame) -> None:
    """Run a frame's whole plan without collecting rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach a row counter to ``df``; read ``obs.get["rows"]`` after an action."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


class Tracer:
    """In-memory span recorder bound to one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._group = f"perfbench-{uuid.uuid4().hex[:8]}"  # job groups unique per tracer

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block; Spark jobs it starts are its own."""
        sid = next(self._ids)
        group = f"{self._group}-{sid}"
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else 0
            self.sc.setJobGroup(f"{self._group}-{parent}", "perfbench")
            tracker = self.sc.statusTracker()
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(group))
            infos = (tracker.getJobInfo(j) for j in rec["jobs"])
            rec["stages"] = sorted({st for i in infos if i is not None for st in i.stageIds})
            self.spans.append(rec)

    def run(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span; return (its result, seconds)."""
        with self.span(name) as rec:
            result = fn(*args, **kwargs)
        return result, rec["end"] - rec["start"]

    def call(self, name: str, fn, *args, **kwargs):
        return self.run(name, fn, *args, **kwargs)[0]

    def seconds(self, name: str, fn, *args, **kwargs) -> float:
        return self.run(name, fn, *args, **kwargs)[1]

    def named(self, name: str, parent: dict | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (parent is None or s["parent"] == parent["id"])
        ]

    def children(self, parent: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent["id"]]

    # -- Spark status stores -------------------------------------------------
    def job_intervals(self, spans: list[dict]) -> list[tuple[float, float]]:
        """(submission, completion) in epoch seconds of every job in ``spans``."""
        out = []
        for s in spans:
            for j in s["jobs"]:
                jd = self.store.job(j)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    out.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return out

    def stage_counters(self, spans: list[dict]) -> dict:
        """Sum the completed stages of every job in ``spans``.

        ``task_skew`` is max / median task run time of the stage with the most
        executor run time (1.0 when no stage ran)."""
        tot = dict.fromkeys(STAGE_COUNTERS, 0.0)
        heaviest, heaviest_run = None, -1
        for sid in sorted({st for s in spans for st in s["stages"]}):
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            tot["stages"] += 1
            tot["tasks"] += st.numTasks()
            tot["input_bytes"] += st.inputBytes()
            tot["output_bytes"] += st.outputBytes()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
            tot["jvm_gc_s"] += st.jvmGcTime() / 1e3
            if st.executorRunTime() > heaviest_run:
                heaviest, heaviest_run = st, st.executorRunTime()
        tot["task_skew"] = self._task_skew(heaviest) if heaviest is not None else 1.0
        return tot

    def sql_metrics(self, names: tuple[str, ...]) -> list[tuple[set, dict]]:
        """(job ids, {metric name: summed value}) of every SQL execution in the
        SQL status store, for the plan metrics whose display name is in
        ``names``. Times read in seconds, sizes in bytes."""
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for ex in conv.asJava(store.executionsList()):
            wanted = {
                m.accumulatorId(): m.name()
                for m in conv.asJava(ex.metrics()) if m.name() in names
            }
            values = conv.asJava(store.executionMetrics(ex.executionId())) if wanted else {}
            sums = dict.fromkeys(names, 0.0)
            for acc, name in wanted.items():
                if values.containsKey(acc):
                    sums[name] += _sql_number(values.get(acc))
            out.append((set(conv.asJava(ex.jobs()).keySet()), sums))
        return out

    @staticmethod
    def sql_totals(executions: list[tuple[set, dict]], spans: list[dict]) -> dict:
        """Sum ``sql_metrics`` output over executions that ran a job of ``spans``."""
        jobs = {j for s in spans for j in s["jobs"]}
        tot: dict[str, float] = {}
        for ex_jobs, sums in executions:
            if ex_jobs & jobs:
                for k, v in sums.items():
                    tot[k] = tot.get(k, 0.0) + v
        return tot

    def _task_skew(self, stage) -> float:
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage.stageId(), stage.attemptId(), q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _sql_number(text: str) -> float:
    m = SQL_VALUE.match(text.split("\n")[-1].strip())
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * SQL_UNITS.get(m.group(2), 1)


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
