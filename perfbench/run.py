"""Benchmark runner for the reference pipeline.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Inputs come from ``--seed`` and are cached
under ``.perfbench_work/`` (with every other file a run writes).

``--trace 0`` sets up once from a new JVM: ``get_spark`` with its defaults
plus untimed warm-up passes of every timed operation (the pipeline's on a
separate date range). It then repeats timed passes for ``--seconds``
seconds, at least the workload's minimum number of passes, and reports the
end-to-end metrics of ``BENCHMARK.json``: ``setup_s``, the seconds of that
cold set-up (25-40 s on a 4-core VM, so a run holds one), and
``latency_s`` over the operations that passed: on ``pipeline_backfill`` the
median pass from bronze day-files to rendered weekly report, on
``catalog_kernels`` the geometric mean of the entries' median seconds.

``--trace 1`` sets up once, then for ``--seconds`` seconds alternates an
untraced pass, a traced pass and a layered pass of the workload, plus a
traced and a layered pass of what runs beside it (the daily cadence beside
``pipeline_backfill``), and reports the per-layer metrics; layers the
workload does not reach read 0. Spans are written to
``.perfbench_work/spans-<workload>-<seed>.json`` at the end.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Progress goes to stderr.
On every way out the runner stops Spark and waits for each process it
started, the JVM's Python workers included.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "youtube_trending_data_pipeline_spark"
TRACED_ROUNDS = 2  # at least: the untraced and the traced pass each go first once
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 30.0


def host_calib() -> float:
    """Seconds for a fixed single-thread loop: a host-speed diagnostic only."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i
    return time.perf_counter() - t0


def prepare_env(work: str) -> None:
    """Keep every file a run writes inside ``work``, and let Spark's Python
    workers import the package whatever directory they start in."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)


def start_spark():
    from youtube_trending_data_pipeline_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the parent of every orphaned descendant (Linux).

    Spark's Python worker daemon and its workers are the JVM's children and
    outlive it by a moment; adopted, they come back to this process, which
    waits for them in ``reap_all``."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def child_pids() -> list[int]:
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            pids.append(int(entry))
    return pids


def reap_all(grace: float = REAP_GRACE_S) -> None:
    """Wait until this process has no child left, adopted ones included;
    kill what still runs after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in child_pids():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def stop_spark() -> None:
    """Stop Spark, then close the JVM's stdin (it exits on EOF) and wait for
    it. Safe to call again, and when Spark never started."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def guarded(step, *args) -> None:
    """Run an untimed set-up step; a failure there is logged, and the timed
    operations that depend on it fail and are counted on their own."""
    from workloads import log

    try:
        step(*args)
    except Exception:  # the run goes on to count the failing operations
        log(traceback.format_exc())


def untraced_run(wl, seconds: float):
    from workloads import Outcome, log, median

    t0 = time.perf_counter()
    spark = start_spark()
    guarded(wl.warm_up, spark)
    setup_s = time.perf_counter() - t0
    out, calib, passes = Outcome(), [], 0
    deadline = time.perf_counter() + seconds
    while passes < wl.min_passes or time.perf_counter() < deadline:
        calib.append(host_calib())
        wl.timed_pass(spark, out)
        passes += 1
    stop_spark()
    log(f"setup {setup_s:.3f} samples {[round(s, 3) for s in out.seconds]} "
        f"host.calib_s {median(calib):.4f}")
    metrics = {"setup_s": setup_s, "latency_s": wl.latency(out)}
    return out.attempted, out.failed, metrics


def traced_run(parts, seconds: float, work: str, seed: int):
    """``parts[0]`` is the workload; the others run beside it, traced only."""
    from spans import Tracer
    from workloads import Outcome, log, median

    wl = parts[0]
    spark = start_spark()
    for part in parts:
        guarded(part.warm_up, spark)
    tracer = Tracer(spark)
    plain, traced, layered, beside = Outcome(), Outcome(), Outcome(), Outcome()
    calib, rounds = [], 0
    deadline = time.perf_counter() + seconds
    while rounds < TRACED_ROUNDS or time.perf_counter() < deadline:
        calib.append(host_calib())
        pair = [(plain, None), (traced, tracer)]
        for out, tr in pair if rounds % 2 == 0 else pair[::-1]:
            wl.timed_pass(spark, out, tr)
        wl.layered_pass(spark, layered, tracer)
        for part in parts[1:]:
            part.timed_pass(spark, beside, tracer)
            part.layered_pass(spark, beside, tracer)
        rounds += 1
    metrics = {}
    for part in parts:
        metrics.update(part.layer_metrics(tracer))
    stop_spark()
    tracer.dump(os.path.join(work, f"spans-{wl.name}-{seed}.json"))
    untraced_s, traced_s = wl.latency(plain), wl.latency(traced)
    metrics.update({
        "host.calib_s": median(calib),
        "trace.untraced_op_s": untraced_s,
        "trace.traced_op_s": traced_s,
        "trace.overhead_ratio": traced_s / untraced_s if untraced_s else 0.0,
    })
    log(f"traced {rounds} rounds; overhead x{metrics['trace.overhead_ratio']:.3f}")
    runs = (plain, traced, layered, beside)
    return sum(o.attempted for o in runs), sum(o.failed for o in runs), metrics


def workloads() -> dict:
    """name -> (workload class, classes traced beside it)."""
    from catalog_pass import CatalogKernels
    from workloads import Backfill, DailyReplay

    return {
        "pipeline_backfill": (Backfill, DailyReplay),
        "catalog_kernels": (CatalogKernels,),
    }


def main(argv=None) -> int:
    adopt_orphans()
    try:
        return measure(argv)
    finally:
        stop_spark()
        reap_all()


def measure(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} is not importable from {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    prepare_env(work)
    sys.path.insert(1, ROOT)  # after this directory, so its modules come first
    classes = workloads()[args.workload]
    if args.trace:
        parts = [cls(work, args.seed) for cls in classes]
        attempted, failed, values = traced_run(parts, args.seconds, work, args.seed)
    else:
        attempted, failed, values = untraced_run(classes[0](work, args.seed), args.seconds)
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    result = {
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
