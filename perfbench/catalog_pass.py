"""The ``catalog_kernels`` workload: catalog entries on seeded tables.

The catalog's queries read TPC-H-ish test tables that live outside the
repository. This module writes, from the seed, the columns the timed
entries read, at the sf0.01 shape: ``lineitem(l_orderkey, l_suppkey)``
and ``orders(o_orderkey, o_custkey)`` for ``graph_pagerank`` (iterative
join and aggregate rounds, shuffle-heavy), and unit-length
``embeddings(vec_id, embedding, label)`` for ``semdedup_keepers`` (Arrow
kernels in Python workers; its DuckDB oracle takes 17 s at sf0.1 and 3 s
here, on a 4-core VM). Each entry's output is checked against its DuckDB
oracle over the same files with ``parity.compare_frames``, which compares
rows order-insensitively.
"""

from __future__ import annotations

import math
import os
import shutil
from functools import partial

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spans import Tracer, median
from workloads import WARM_PASSES, Outcome, medians, sql_medians

ENTRIES = ("graph_pagerank", "semdedup_keepers")
TABLES = ("lineitem", "orders", "embeddings")
ORDERS, CUSTOMERS, SUPPLIERS = 15_000, 1_500, 100
VECTORS, DIM = 500, 64
PYTHON_SQL = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
}


def generate(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    orderkey = np.arange(1, ORDERS + 1, dtype=np.int64)
    custkey = rng.integers(1, CUSTOMERS + 1, ORDERS, dtype=np.int64)
    pq.write_table(pa.table({"o_orderkey": orderkey, "o_custkey": custkey}),
                   f"{out_dir}/orders.parquet")
    lines = rng.integers(1, 8, ORDERS)
    pq.write_table(pa.table({
        "l_orderkey": np.repeat(orderkey, lines),
        "l_suppkey": rng.integers(1, SUPPLIERS + 1, int(lines.sum()), dtype=np.int64),
    }), f"{out_dir}/lineitem.parquet")
    vecs = rng.standard_normal((VECTORS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": rng.permutation(VECTORS).astype(np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, VECTORS, dtype=np.int32),
    }), f"{out_dir}/embeddings.parquet")


def cached_tables(work: str, seed: int) -> str:
    path = os.path.join(work, "catalog", f"s{seed}")
    done = os.path.join(path, "tables.done")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        generate(path, seed)
        open(done, "w").close()
    return path


class CatalogKernels:
    """``catalog_kernels``: each pass runs every entry to a pandas frame on
    the driver, checks it against the oracle's rows (computed once per run,
    untimed), and its latency is the geometric mean over entries of each
    entry's median seconds. The traced run reports ``catalog.<entry>_s``
    and ``spark.<entry>.*`` counters."""

    name = "catalog_kernels"
    min_passes = 3  # a median of two passes is their mean

    def __init__(self, work: str, seed: int):
        self.dir = cached_tables(work, seed)
        # generated oracles embed literals read from this directory's tables
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.dir
        from youtube_trending_data_pipeline_spark import catalog

        queries = catalog.all_queries()  # loads every registry module
        self.queries = {name: queries[name] for name in ENTRIES}
        # resolve only these oracles: others read tables not generated here
        specs = {name: catalog.QUERIES[name].oracle for name in ENTRIES}
        self.oracles = {name: o() if callable(o) else o for name, o in specs.items()}
        self.want: dict = {}

    def warm_up(self, spark) -> None:
        """Compute the oracles' answers and run every entry ``WARM_PASSES`` times."""
        con = duckdb.connect()
        try:
            for tb in TABLES:
                con.execute(f"CREATE VIEW {tb} AS SELECT * FROM '{self.dir}/{tb}.parquet'")
            for name in ENTRIES:
                self.want[name] = con.execute(self.oracles[name]).df()
        finally:
            con.close()
        for _ in range(WARM_PASSES):
            for name in ENTRIES:
                self._run(spark, name)

    def _run(self, spark, name: str):
        return self.queries[name](spark, self.dir).toPandas()

    def _check(self, name: str, pdf) -> list[str]:
        from youtube_trending_data_pipeline_spark.parity import compare_frames

        if name not in self.want:
            return ["no oracle answer: the warm-up failed"]
        return compare_frames(pdf, self.want[name])

    def timed_pass(self, spark, out: Outcome, tracer: Tracer | None = None) -> None:
        for name in ENTRIES:
            op = partial(self._run, spark, name)
            if tracer is not None:
                op = partial(tracer.call, f"catalog.{name}", op)
            out.attempt(name, op, partial(self._check, name))

    def layered_pass(self, spark, out: Outcome, tracer: Tracer) -> None:
        """An entry is one plan with no layer boundary the benchmark can
        reach from outside; its counters come from the traced pass."""

    @staticmethod
    def latency(out: Outcome) -> float:
        meds = [median(out.ok[name]) for name in ENTRIES if out.ok.get(name)]
        if not meds:
            return median(out.seconds)
        return math.exp(sum(math.log(m) for m in meds) / len(meds))

    def layer_metrics(self, tracer: Tracer) -> dict:
        out = {}
        for name in ENTRIES:
            spans = tracer.named(f"catalog.{name}")
            out[f"catalog.{name}_s"] = median(s["end"] - s["start"] for s in spans)
            counters = medians([tracer.stage_counters([s]) for s in spans])
            for k in ("stages", "shuffle_read_bytes", "task_skew"):
                out[f"spark.{name}.{k}"] = counters.get(k, 0.0)
            py = sql_medians(tracer, PYTHON_SQL, [[s] for s in spans])
            out.update({f"spark.{name}.{k}": v for k, v in py.items()})
        return out
