"""ANN recall of the bucketed mutual-kNN build on CLUSTERED embeddings
(VERDICT r8 item 2).

The corpus-relative cell knob (n_cells = GREATEST(8, n // 250)) holds
the within-cell quadratic bounded, but on the NEAR-RANDOM synthetic
testdata embeddings it drops recall vs exact from 0.95 (sf0.1, 8
cells) to ~0.34 (sf1, 80 cells) — the adversarial case for any ANN
bucketing, since random vectors have no cluster structure for cells to
exploit.  The production defense ("real corpora are clustered, where
IVF recall holds") was asserted, not measured.  This script measures
it: a DETERMINISTIC mixture-of-Gaussians fixture (k isotropic Gaussian
clusters around hash-seeded centers — no RNG anywhere: every value is
a pure function of (tag, row, coordinate) through splitmix64, so the
fixture is bit-identical across runs and machines), at the same two
scales the random-embedding numbers were taken (2 k vectors = the
sf0.1 gate size -> 8 cells; 20 k = the 10x replica size -> 80 cells).

MEASURED OUTCOME (round 9): recall does NOT hold on clustered data at
fixed (probe=5, member=2) — 0.406 at 80 cells vs 0.958 at 8 — because
pivots inside a tight cluster are interchangeable and per-vector pivot
ranking is noise-driven.  The fix (exactly the verdict's fallback) is
the corpus-relative knob schedule in catalog_analysis._mknn_knobs
(probe ~ sqrt(cells), member ~ probe/5, floors (5, 2) so gate SFs are
bit-identical): measured recall with the schedule is 0.938 clustered /
0.914 random at 80 cells, at 16-18 s vs the exact build's ~40 s.
Lloyd-refined cells were measured as the alternative and lose on both
axes (0.61-0.69 recall at ~43 s — the within-cluster subdivision
problem doesn't go away, and the exploded DataFrame Lloyd rounds at 80
cells dominate).  This script now exercises the production build,
i.e. the schedule, end-to-end.

Writes /tmp/clustered_knn/{gate,10x}/embeddings.parquet and prints one
JSON line per run: exact edges, bucketed edges, common, recall ppm,
and the bucketed build's wall time.  Results are recorded in
SCALING.md (mutual-kNN section) and PERF.md round 9.

Usage: python scripts/mutual_knn_clustered_recall.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

import youtube_trending_data_pipeline_spark.catalog_analysis as ca
from youtube_trending_data_pipeline_spark.session import get_spark

DIM = 64          # matches testdata embeddings (and the oracle's range(1,65))
N_CLUSTERS = 20   # semantic clusters; corpus growth adds members, not clusters
NOISE = 0.35      # within-cluster sigma relative to unit-norm centers
FIXTURE_ROOT = "/tmp/clustered_knn"


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix (public splitmix64 constants) — the
    repo's no-RNG doctrine: every fixture value is a pure function of
    its integer coordinates."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    x ^= x >> np.uint64(31)
    return x


def _hash_uniform(tag: int, rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """Uniform [0, 1) from hashed (tag, row, col) coordinates."""
    key = (
        np.uint64(tag) * np.uint64(0x100000001B3)
        + rows.astype(np.uint64)[:, None] * np.uint64(0x10000_0001)
        + cols.astype(np.uint64)[None, :]
    )
    return _splitmix64(key).astype(np.float64) / np.float64(2**64)


def _hash_gauss(tag: int, n: int, dim: int) -> np.ndarray:
    """~N(0, 1) via Irwin-Hall (sum of 12 hashed uniforms minus 6) —
    deterministic, close enough to Gaussian for a clustering fixture."""
    rows = np.arange(n, dtype=np.uint64)
    cols = np.arange(dim, dtype=np.uint64)
    acc = np.zeros((n, dim), dtype=np.float64)
    for r in range(12):
        acc += _hash_uniform(tag * 12 + r + 1, rows, cols)
    return acc - 6.0


def build_fixture(n: int, path: str) -> None:
    """Mixture of N_CLUSTERS isotropic Gaussians, unit-normalized, with
    the testdata embeddings schema (vec_id int64, embedding
    list<float>, label int32 = the true cluster)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    centers = _hash_gauss(101, N_CLUSTERS, DIM)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # cluster assignment is itself hashed so ids interleave clusters
    # (pivot seeds = first-n-by-id must not all land in one cluster)
    label = (
        _splitmix64(np.arange(n, dtype=np.uint64) + np.uint64(7_777))
        % np.uint64(N_CLUSTERS)
    ).astype(np.int64)
    noise = _hash_gauss(202, n, DIM) * NOISE
    vecs = centers[label] + noise
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    os.makedirs(path, exist_ok=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), type=pa.list_(pa.float32())
            ),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    pq.write_table(tbl, os.path.join(path, "embeddings.parquet"))


def measure(spark, sf_dir: str, label: str) -> dict:
    exact = (
        ca._mutual_knn_edges_exact(spark, sf_dir)
        .where("src < dst")
        .localCheckpoint()
    )
    t0 = time.perf_counter()
    bucketed = (
        ca._mutual_knn_edges(spark, sf_dir)
        .where("src < dst")
        .localCheckpoint()
    )
    n_bucketed = bucketed.count()
    build_sec = time.perf_counter() - t0
    n_exact = exact.count()
    n_common = exact.join(bucketed, ["src", "dst"], "left_semi").count()
    return {
        "run": label,
        "sf_dir": sf_dir,
        "exact_edges": n_exact,
        "bucketed_edges": n_bucketed,
        "common_edges": n_common,
        "recall": round(n_common / max(n_exact, 1), 4),
        "bucketed_build_sec": round(build_sec, 2),
    }


def _sampled_exact_edges(spark, sf_dir: str, mod: int):
    """EXACT mutual-kNN edges restricted to the sample-induced subgraph
    (round 12, the dedup_minhash_recall_audit_sampled doctrine): probers
    are the hash-sampled vectors (xxhash64(vec_id) % mod == 0), members
    stay the FULL corpus, so each sampled vector's top-k is its true
    global top-k and the mutual semi-join (which only sees sampled
    probers on both sides) yields exactly the exact-mutual edges whose
    BOTH endpoints are sampled — an unbiased restriction. Cost s*n
    instead of n^2; edge yield E*(s/n)^2, so pick mod to leave >= ~10k
    edges (SE at recall 0.99 ~ sqrt(0.0099/edges))."""
    from pyspark.sql import functions as F

    q = ca.t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(ca._QV_SPARK).alias("qv")
    )
    salts = F.broadcast(
        spark.range(ca._EXACT_SALTS).select(
            F.col("id").cast("int").alias("cell")
        )
    )
    probers = (
        q.where(F.pmod(F.xxhash64("vec_id"), F.lit(mod)) == 0)
        .select(
            F.pmod(F.col("vec_id"), F.lit(ca._EXACT_SALTS))
            .cast("int").alias("cell"),
            "vec_id", "qv",
            F.lit(False).alias("is_m"), F.lit(True).alias("is_p"),
        )
    )
    members = q.crossJoin(salts).select(
        "cell", "vec_id", "qv",
        F.lit(True).alias("is_m"), F.lit(False).alias("is_p"),
    )
    knn = (
        probers.unionByName(members)
        .groupBy("cell")
        .applyInArrow(
            lambda t_: ca._knn_cell_arrow(t_, ca._KNN_K),
            schema="u long, v long, dot long",
        )
        .select("u", "v")
    )
    rev = knn.select(F.col("v").alias("ru"), F.col("u").alias("rv"))
    return knn.join(
        rev, (knn["u"] == rev["ru"]) & (knn["v"] == rev["rv"]), "left_semi"
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))


def measure_sampled(spark, sf_dir: str, label: str, mod: int) -> dict:
    """Sampled recall point: exact ground truth on the sample-induced
    subgraph, bucketed production build run FULL then restricted to the
    same sample (both sides' mutualness is w.r.t. the full corpus)."""
    from pyspark.sql import functions as F

    exact = (
        _sampled_exact_edges(spark, sf_dir, mod)
        .where("src < dst")
        .localCheckpoint()
    )
    n_exact = exact.count()
    t0 = time.perf_counter()
    bucketed_full = (
        ca._mutual_knn_edges(spark, sf_dir)
        .where("src < dst")
        .localCheckpoint()
    )
    n_full = bucketed_full.count()
    build_sec = time.perf_counter() - t0
    in_sample = (
        (F.pmod(F.xxhash64("src"), F.lit(mod)) == 0)
        & (F.pmod(F.xxhash64("dst"), F.lit(mod)) == 0)
    )
    bucketed = bucketed_full.where(in_sample)
    n_common = exact.join(bucketed, ["src", "dst"], "left_semi").count()
    return {
        "run": label,
        "sf_dir": sf_dir,
        "sample_mod": mod,
        "exact_edges_in_sample": n_exact,
        "bucketed_edges_full": n_full,
        "common_edges": n_common,
        "recall": round(n_common / max(n_exact, 1), 4),
        "bucketed_build_sec": round(build_sec, 2),
    }


def main() -> None:
    """Default run = the round-9 pair (2 k gate + 20 k 10x). Extra
    corpus sizes come from argv (round 10 added the 50 k/200-cell and
    100 k/400-cell points this way: `python scripts/
    mutual_knn_clustered_recall.py 100000`); the exact baseline is
    O(n^2), ~4 min at 50 k and ~16 min at 100 k, so the big points run
    deliberately, not by default.  `--sampled-mod M` switches the
    ground truth to the hash-sampled subgraph estimator (round 12's
    sixth octave: `... 500000 --sampled-mod 5` costs s*n instead of
    n^2 and leaves ~E/25 edges to grade against)."""
    args = sys.argv[1:]
    mod = None
    if "--sampled-mod" in args:
        i = args.index("--sampled-mod")
        mod = int(args[i + 1])
        del args[i : i + 2]
    sizes = [int(a) for a in args if a.isdigit()] or [2_000, 20_000]

    spark = get_spark(app_name="mutual-knn-clustered-recall")
    spark.sparkContext.setLogLevel("ERROR")
    for n in sizes:
        d = os.path.join(FIXTURE_ROOT, f"n{n}")
        build_fixture(n, d)
        cells = max(8, n // 250)
        if mod is None:
            rec = measure(spark, d, f"clustered {n} ({cells} cells)")
        else:
            rec = measure_sampled(
                spark, d, f"clustered {n} ({cells} cells) sampled", mod
            )
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
