"""Similarity search over embedding columns (``array<float>``).

Two paths, mirroring a production ANN stack:

* brute-force top-k — exact cosine against every vector; the correctness
  baseline. The query side is small and broadcast; the corpus side
  streams partition-parallel, so the only shuffle is the final per-query
  top-k reduction (size Q*k after partial aggregation).
* hyperplane-LSH top-k — random-hyperplane sign buckets prune the corpus
  before exact re-ranking; the scale path when Q*N pairs is too large.

All vector math is JVM-side (functions/vectors.py); no Python per row.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.functions.vectors import cosine_similarity
from youtube_trending_data_pipeline_spark.operators.intlinalg import (
    _exact_int_matmul,
    _exact_sq_l2,
    _rowwise_topk,
    _split_group,
)

# Quantization scale for hyperplane dot products: each elementwise product
# is rounded to an integer number of 1e-9 units, so the per-plane dot is an
# exact BIGINT sum — order-independent under Spark's partial aggregation
# and bit-identical to the DuckDB oracle's fold. (Unit vectors x gaussian
# weights keep |product| * 1e9 far below 2^63 / dim.)
_QUANT = 1_000_000_000.0

# Corpus-relative IVF retrieval knobs (round 10, closing PERF.md's r9
# handoff item): a FIXED cell count means candidates/query grows as
# n/cells — linear, but an ever-larger constant. The same doctrine as
# the mutual-kNN build (catalog_analysis._mknn_knobs):
#   cells = GREATEST(8, n // 250)   — holds expected cell size at ~250,
#   probe = GREATEST(3, CEIL(SQRT(9 * cells / 8)))
#           — holds probe at its gate-scale RATIO to sqrt(cells)
#             (3/sqrt(8)), so candidates/query grows as sqrt(n), not n.
# Floors reproduce today's values at every gate SF (<= 2000 vectors ->
# 8 cells, 3 probes — results bit-identical), and both engines derive
# the numbers from COUNT(*) so the oracles replay them.
_IVF_CELLS_MIN = 8
_IVF_CELL_SIZE = 250
_IVF_PROBE_MIN = 3
# PQ codebooks grow with the corpus only up to the 8-bit cap — a FIXED
# 256-entry codebook per subspace is the point of PQ at scale (one byte
# per code, encode cost <= 256 * n * d — linear in n; a codebook that
# kept growing as n/250 would make encoding quadratic).
PQ_CODEBOOK_CAP = 256


def ivf_knobs(n_corpus: int) -> tuple[int, int]:
    """Corpus-relative (n_cells, n_probe) for the IVF retrieval family.

    Mirrors catalog_analysis._mknn_knobs: cells hold expected cell size
    at ~250 vectors; probe holds its gate-scale ratio to sqrt(cells).
    At the 8-cell floor this reproduces (8, 3) bit-for-bit (ceil(sqrt(9))
    == 3), so all gate-SF results are unchanged; at the 10x replica
    (20 k vectors -> 80 cells) it gives probe 10. CEIL/SQRT on doubles
    is correctly-rounded IEEE in both engines, so the oracle-side nc
    CTE replays the same integers from COUNT(*)."""
    import math

    cells = max(_IVF_CELLS_MIN, n_corpus // _IVF_CELL_SIZE)
    probe = max(_IVF_PROBE_MIN, math.ceil(math.sqrt(9 * cells / 8)))
    return cells, probe


def pq_codebook_size(n_corpus: int) -> int:
    """Corpus-relative PQ codebook size, capped at 256 (8-bit codes —
    the FAISS-shipping PQ configuration): LEAST(256, GREATEST(8,
    n // 250)). Reproduces 8 at every gate SF; the cap keeps encode
    cost linear in the corpus."""
    return min(
        PQ_CODEBOOK_CAP, max(_IVF_CELLS_MIN, n_corpus // _IVF_CELL_SIZE)
    )


# Fixed-point scale for cell-assignment dots: components quantize to
# 1e-4 units (CAST(floor(x * 10000 + 0.5) AS BIGINT) — the same scheme
# as the mutual-kNN build and the PQ integer grids), so assignment
# ranking is exact int64 arithmetic: bit-reproducible across engines,
# partitionings, and BLAS vs fold evaluation order.
_CELL_QUANT = 10_000


def _quantize_expr(vec_col: str):
    return F.expr(
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {_CELL_QUANT} + 0.5) AS BIGINT))"
    )


def _cell_assign_arrow(tbl, n_keep: int):
    """Salt-group kernel: rank every non-seed row's cells by (exact
    integer dot DESC, seed id ASC) with one float64-BLAS matmul and
    emit its top-``n_keep`` (vec_id, cell, cell_rank) rows — the
    catalog_analysis._pivot_rank_arrow doctrine applied to the IVF
    retrieval family (round 10: with corpus-relative cells, the old
    crossJoin + interpreted-HOF cosine + row_number window evaluated
    n * cells * dim closures and shuffled n * cells vector-carrying
    rows — measured 23x wall at the 10x replica)."""
    import numpy as np
    import pyarrow as pa

    split = _split_group(tbl, "is_seed")
    if split is None:
        return pa.table({})
    sids, S, pids, P = split
    cols = _rowwise_topk(_exact_int_matmul(P, S), sids, n_keep)
    k = cols.shape[1]
    return pa.table(
        {
            "vec_id": np.repeat(pids, k),
            "cell": sids[cols.ravel()],
            "cell_rank": np.tile(np.arange(1, k + 1, dtype=np.int64), len(pids)),
        }
    )


def assign_pivot_cells(
    df: DataFrame,
    seeds: DataFrame,
    n_keep: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, cell_rank) of each df row's top-``n_keep`` seed cells
    by (quantized integer dot DESC, seed id ASC).

    ``seeds`` must have columns (seed_id, seed_vec). Salt-group plan
    (the round-9 mutual-kNN doctrine): rows hash into
    defaultParallelism groups via pmod (negative ids stay seeded),
    seeds replicate once per group through a bounded broadcast spine,
    and one BLAS kernel per group ranks every row's cells — vectors
    shuffle ONCE and the ranking never windows. Output is a pure
    function of (vector, seeds): bit-identical at any parallelism."""
    spark = df.sparkSession
    n_salts = spark.sparkContext.defaultParallelism
    probers = df.select(
        F.pmod(F.col(id_col), F.lit(n_salts)).cast("int").alias("g"),
        F.col(id_col).alias("vec_id"),
        _quantize_expr(vec_col).alias("qv"),
        F.lit(False).alias("is_seed"),
    )
    # explode(sequence(...)) replicates the bounded seed frame once per
    # salt group as a GENERATOR — no join operator at all (a broadcast
    # crossJoin spine plans as BroadcastNestedLoopJoin, which the plan
    # gates ban)
    seeds_rep = seeds.select(
        # sequence of int literals -> array<int>, so the exploded g is
        # already int32 (matching the probers' pmod cast)
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("g"),
        F.col("seed_id").alias("vec_id"),
        _quantize_expr("seed_vec").alias("qv"),
        F.lit(True).alias("is_seed"),
    )
    return (
        probers.unionByName(seeds_rep)
        .groupBy("g")
        .applyInArrow(
            lambda t_: _cell_assign_arrow(t_, n_keep),
            schema="vec_id long, cell long, cell_rank long",
        )
    )


def ivf_pivot_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN with DETERMINISTIC pivot cells: the same build-cells /
    probe / exact-re-rank architecture as ivf_topk, but the cell
    centers are the first ``n_cells`` corpus vectors by id instead of
    learned KMeans centroids — so cell assignment, probing, and the
    final ranking are pure functions of the data, reproducible across
    engines, partitionings, and reruns (KMeans|| initialization samples
    per partition, so its cells shift with the physical layout; that
    variant stays the quality path, this one is the auditable path and
    the one the exact correctness gate checks end-to-end).

    Round 10: assignment ranks by QUANTIZED INTEGER dot (1e-4 grid —
    exact, engine-portable int64) instead of double cosine, evaluated
    by the salt-group BLAS kernel (assign_pivot_cells). With
    corpus-relative cells the old crossJoin + interpreted-HOF cosine +
    window shape cost n * cells * dim interpreted closures plus an
    n * cells vector-carrying ranking shuffle — 23x wall at the 10x
    replica; the kernel shuffles vectors once. The candidate re-rank
    (the OUTPUT) stays exact double cosine, unchanged.

    Shapes: seeds are an ``n_cells``-row bounded frame replicated per
    salt group; candidate search is an equi-join on cell id followed
    by one per-query top-k window.
    """
    seeds = (
        corpus.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("seed_id"), F.col(vec_col).alias("seed_vec")
        )
    )
    cells = assign_pivot_cells(
        corpus, seeds, 1, id_col=id_col, vec_col=vec_col
    ).select(F.col("vec_id").alias(id_col), "cell")
    probes = assign_pivot_cells(
        queries, seeds, n_probe, id_col=query_id_col, vec_col=vec_col
    ).select(F.col("vec_id").alias(query_id_col), "cell")
    cand = (
        probes.join(cells, "cell")
        .select(query_id_col, F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    scored = (
        cand.join(
            queries.select(
                query_id_col, F.col(vec_col).alias("query_vec")
            ),
            query_id_col,
        )
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cand_vec"),
            ),
            "neighbor_id",
        )
        .select(
            query_id_col,
            "neighbor_id",
            cosine_similarity("query_vec", "cand_vec").alias("cos"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cos", "rank")
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scalar quantization — the write-path of a
    quantized ANN index (4x smaller than float32, 8x than float64).

    Each vector is min/max-normalized to [0, 255]:
    ``q = floor((x - mn) * 255 / (mx - mn) + 0.5)``, emitted one row per
    (vector, dim) with the dequantized value for error auditing. Every
    step is float->double widening plus IEEE *, /, floor in a fixed
    expression order, so the output is bit-identical across engines and
    partitionings (no reliance on ROUND's half-case behavior: +0.5 then
    floor, and exact binary halves cannot arise from these operands in
    practice).

    Plan shape: array_min/array_max are JVM builtins, posexplode is a
    codegen generator — no shuffle at all; the quantized table inherits
    the input partitioning, which at 100 TB is exactly what the
    downstream bucketed index build wants.
    """
    mn = F.array_min(F.col(vec_col)).cast("double")
    mx = F.array_max(F.col(vec_col)).cast("double")
    base = df.select(
        F.col(id_col),
        mn.alias("mn"),
        mx.alias("mx"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    )
    xd = F.col("x").cast("double")
    q = F.when(
        F.col("mx") > F.col("mn"),
        F.floor((xd - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn")) + 0.5),
    ).otherwise(F.lit(0)).cast("int")
    return base.select(
        id_col,
        "dim",
        q.alias("q"),
        (F.col("mn") + q.cast("double") * (F.col("mx") - F.col("mn")) / 255.0).alias(
            "dq"
        ),
        "mn",
        "mx",
    )


def _hyperplanes(dim: int, planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def hyperplane_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: int = 8,
    seed: int = 7,
    tables: int = 1,
    dim: int = 64,
) -> DataFrame:
    """(id, b0..b{tables-1}): one BIGINT sign-bit signature per table.

    Shape (r13): ONE map-only Arrow kernel (mapInArrow) computing every
    table's sign bits per vector with numpy — zero shuffles, zero row
    blowup. The r7 form (kept below as ``hyperplane_signatures_agg``,
    the parity-test reference) posexploded each vector and joined a
    broadcast weight table, multiplying every corpus row into
    tables x planes x dim = 4096 rows that then hash-aggregated back
    down through an id-keyed exchange; correct and codegen-friendly,
    but 4096x the rows and one exchange where a map suffices (guide
    §4.2: hand whole Arrow batches to vectorized native code).

    Bit-for-bit the same signatures: per element the kernel computes
    ``floor((float64(x) * w) * 1e9 + 0.5)`` with the same IEEE ops and
    association the JVM expression used, sums the per-plane quantized
    products in int64, and packs ``dot > 0`` sign bits. Edge semantics
    preserved and pinned by tests: empty/NULL vectors get signature 0;
    positions past ``dim`` are ignored (the old inner pos-join);
    shorter vectors sum their present positions. Precondition (held by
    every caller): ``id_col`` is unique per row — the old groupBy(id)
    would have MERGED duplicate ids where this emits one row per input
    row."""
    import numpy as np

    plane_sets = [_hyperplanes(dim, planes, seed + ti) for ti in range(tables)]
    W = np.array(plane_sets, dtype=np.float64)  # tables x planes x dim
    n_tables, n_planes = tables, planes
    quant = _QUANT

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            arr = batch.column(1)
            n = len(ids)
            lengths = np.asarray(
                arr.value_lengths().fill_null(0), dtype=np.int64
            )
            # element-level NULLs zero-fill (r14, ADVICE r13): the agg
            # reference's SUM skips NULL per-element products, and a
            # zeroed element contributes floor(0*w*quant+0.5) = 0 —
            # identical; without this, NaN reaches np.floor(...).astype
            # (undefined, typically INT64_MIN) and the sign bit flips.
            flat_arr = arr.flatten()
            if flat_arr.null_count:
                flat_arr = flat_arr.fill_null(0.0)
            flat = flat_arr.to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            )
            starts = np.concatenate(
                ([0], np.cumsum(lengths)[:-1])
            ) if n else np.zeros(0, dtype=np.int64)
            bits = np.zeros((n, n_tables), dtype=np.int64)
            full = lengths == dim
            if full.any():
                idxf = np.nonzero(full)[0]
                gather = (
                    starts[full][:, None] + np.arange(dim)[None, :]
                ).ravel()
                X = flat[gather].reshape(-1, dim)
                for t_ in range(n_tables):
                    acc = np.zeros(len(idxf), dtype=np.int64)
                    for p_ in range(n_planes):
                        q = np.floor(X * W[t_, p_][None, :] * quant + 0.5)
                        dots = q.astype(np.int64).sum(axis=1)
                        acc += (dots > 0).astype(np.int64) << p_
                    bits[idxf, t_] = acc
            for i in np.nonzero(~full)[0]:
                ln = int(lengths[i])
                if ln == 0:
                    continue  # empty/NULL vector -> signature 0
                m = min(ln, dim)
                x = flat[starts[i]:starts[i] + m]
                for t_ in range(n_tables):
                    b = 0
                    for p_ in range(n_planes):
                        q = np.floor(
                            x * W[t_, p_][:m] * quant + 0.5
                        ).astype(np.int64).sum()
                        if q > 0:
                            b += 1 << p_
                    bits[i, t_] = b
            yield pa.record_batch(
                [ids]
                + [pa.array(bits[:, t_], pa.int64()) for t_ in range(n_tables)],
                names=["id"] + [f"b{t_}" for t_ in range(n_tables)],
            )

    schema = "id long, " + ", ".join(f"b{t_} long" for t_ in range(tables))
    return df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("_v")
    ).mapInArrow(kernel, schema=schema)


def hyperplane_signatures_agg(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: int = 8,
    seed: int = 7,
    tables: int = 1,
    dim: int = 64,
) -> DataFrame:
    """Reference implementation (r7 shape): posexplode + broadcast
    weight-table join + hash aggregates. Kept ONLY as the parity-test
    baseline for the mapInArrow production form above — see
    tests/test_extensions.py / test_plan_quality.py."""
    plane_sets = [_hyperplanes(dim, planes, seed + ti) for ti in range(tables)]
    weights = F.broadcast(
        df.sparkSession.createDataFrame(
            [
                (ti, pj, pos, float(wv))
                for ti, hp in enumerate(plane_sets)
                for pj, plane in enumerate(hp)
                for pos, wv in enumerate(plane)
            ],
            "tbl int, plane int, pos int, w double",
        )
    )
    ids = df.select(F.col(id_col).alias("id"))
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    dots = (
        exploded.join(weights, "pos")
        .select(
            "id",
            "tbl",
            "plane",
            F.floor(
                F.col("x").cast("double") * F.col("w") * F.lit(_QUANT)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("q"),
        )
        .groupBy("id", "tbl", "plane")
        .agg(F.sum("q").alias("dot"))
    )
    sigs = dots.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    (F.col("tbl") == ti) & (F.col("dot") > 0),
                    F.expr("shiftleft(CAST(1 AS BIGINT), plane)"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias(f"b{ti}")
            for ti in range(tables)
        ]
    )
    # NULL sigs (empty/missing vectors, absent after the left join)
    # coalesce to 0 — signature 0, the previous per-row semantics.
    return ids.join(sigs, "id", "left").select(
        "id",
        *[
            F.coalesce(F.col(f"b{ti}"), F.lit(0)).cast("long").alias(f"b{ti}")
            for ti in range(tables)
        ],
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k neighbors per query.

    ``queries`` (small) is broadcast; the Q*N similarity scan is
    partition-parallel over the corpus with no shuffle; the final window
    reduces to k rows per query. Ties break on neighbor id ascending."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    pairs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    ).crossJoin(F.broadcast(q))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_similarity("query_vec", "vec").alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    planes: int = 6,
    seed: int = 7,
    tables: int = 4,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH candidate generation
    followed by exact cosine re-ranking of the (much smaller) candidate
    set. ``tables`` independent plane sets raise recall; a candidate is
    any corpus vector sharing a bucket with the query in any table.

    The bucket join moves only (id, tbl, bkt) rows — vectors stay out of
    the shuffle and are fetched per candidate for the re-rank, so at
    corpus scale the wide embedding column never travels with the
    candidate-generation exchange."""
    def banded(sigs):
        return sigs.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(t).alias("tbl"), F.col(f"b{t}").alias("bkt"))
                        for t in range(tables)
                    ]
                )
            ).alias("tb"),
        ).select("id", "tb.tbl", "tb.bkt")

    csig = hyperplane_signatures(
        corpus, id_col, vec_col, planes=planes, seed=seed, tables=tables
    )
    qsig = hyperplane_signatures(
        queries, query_id_col, vec_col, planes=planes, seed=seed, tables=tables
    )
    c = banded(csig).alias("c")
    q = banded(qsig).alias("q")
    cands = (
        c.join(
            F.broadcast(q),
            (F.col("c.tbl") == F.col("q.tbl")) & (F.col("c.bkt") == F.col("q.bkt")),
        )
        .select(F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id"))
        .distinct()
    )
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )
    scored = (
        cands.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("query_vec", "vec").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_index(
    corpus: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    train_fraction: float = 0.25,
):
    """IVF (inverted-file) index: KMeans-partition the corpus; search then
    probes only the closest cells. Returns (assigned corpus, model).

    The production ANN scale path: the corpus is written bucketed by
    ``cell`` so each probe reads only its cells' files; locally the cell
    column drives a partition-pruned filter. Training fits KMeans on a
    deterministic ``train_fraction`` sample (KMeans iterates — on 100 TB
    every iteration over the full corpus is a full pass, so only the
    single assignment transform touches every row); a tiny corpus whose
    sample can't seed ``n_clusters`` centers falls back to a full fit.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        array_to_vector(F.col(vec_col)).alias("features"),
    )
    train = feat
    if train_fraction < 1.0:
        sampled = feat.sample(fraction=train_fraction, seed=seed)
        # limit(k).count() early-exits after k rows — a bounded probe, not
        # a full pass — to guard the degenerate tiny-corpus case.
        if sampled.limit(n_clusters).count() >= n_clusters:
            train = sampled
    model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(train)
    assigned = model.transform(feat).select(
        "id", "vec", F.col("prediction").alias("cell")
    )
    return assigned, model


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 11,
) -> DataFrame:
    """Approximate top-k via IVF: assign corpus to KMeans cells, probe the
    ``n_probe`` nearest cells per query, exact cosine re-rank within them."""
    assigned, model = ivf_index(corpus, n_clusters, id_col, vec_col, seed)
    centers = model.clusterCenters()
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    # distance of each query to every center (centers are driver-side
    # constants — tiny), keep n_probe closest cells per query
    center_cols = []
    for ci, center in enumerate(centers):
        dist = F.aggregate(
            F.zip_with(
                F.col("query_vec"),
                F.array(*[F.lit(float(x)) for x in center]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        center_cols.append(F.struct(dist.alias("d"), F.lit(ci).alias("cell")))
    probed = q.select(
        "query_id",
        "query_vec",
        F.explode(
            F.slice(F.array_sort(F.array(*center_cols)), 1, n_probe)
        ).alias("probe"),
    ).select("query_id", "query_vec", F.col("probe.cell").alias("cell"))
    cands = assigned.join(F.broadcast(probed), "cell").select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        cosine_similarity("query_vec", "vec").alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid as (label, dim, avg) rows via posexplode — the
    shuffle key is (label, dim) so the reduction is fully parallel (no
    per-label array assembly on a single reducer until the final small
    collect_list)."""
    exploded = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "component"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.avg(F.col("component").cast("double")).alias("avg_component")
    )


def gram_matrix(
    df: DataFrame, vec_col: str = "embedding", unit: float = 10_000.0
) -> DataFrame:
    """Distributed integer Gram matrix (X^T X, upper triangle) — the
    reduction behind PCA / whitening / covariance-conditioned
    quantization of an embedding corpus.

    Each partition computes a LOCAL d x d Gram with one vectorized
    ``Q.T @ Q`` over its Arrow batches (elements pre-quantized to
    ``1/unit`` units as int64, so every partial is exact and
    order-independent), then emits its d*(d+1)/2 upper-triangle cells;
    ONE tiny hash aggregate sums partials across partitions. The
    exchange therefore carries O(partitions * d^2) rows regardless of
    corpus size — and the kernel is BLAS-shaped instead of per-element
    interpreted. A/B at sf0.1 (5k vectors, d=64): 0.34 s vs 1.9 s for
    the whole-stage-codegen HOF pair expansion — the vectorized batch
    kernel wins 5.6x even against codegen, the same lesson as the
    multimodal decoders (PERF.md r5).

    Overflow bound: |q| <= unit * max|x|, so a cell accumulates
    ~N * (unit * max|x|)^2; with unit=1e4 and unit vectors that stays
    inside int64 up to ~2e10 rows. Drop ``unit`` to 1e3 for corpora
    beyond that (numpy int64 matmul wraps silently on overflow, like
    Spark's long arithmetic)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("p", LongType()),
        ]
    )

    def partial_gram(batches):
        import numpy as np
        import pandas as pd

        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].values).astype("float64")
            q = np.floor(m * unit + 0.5).astype("int64")
            g = q.T @ q
            acc = g if acc is None else acc + g
        if acc is not None:
            iu = np.triu_indices(acc.shape[0])
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "p": acc[iu],
                }
            )

    return (
        df.select(vec_col)
        .mapInPandas(partial_gram, out_schema)
        .groupBy("i", "j")
        .agg(F.sum("p").alias("gram"))
    )


def pca_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 2,
    unit: float = 10_000.0,
) -> DataFrame:
    """PCA projection of an embedding corpus onto its top-``k`` principal
    axes — the scale-correct split: the d x d Gram matrix reduces
    DISTRIBUTED (gram_matrix, one tiny exchange), the O(d^3) eigen
    decomposition runs on the DRIVER (64x64 — microseconds), and the
    projection streams back over the corpus as a zero-shuffle map with
    the k eigenvectors baked into the plan as literals.

    Deterministic: the Gram matrix is exact integers (order-independent),
    numpy's symmetric eigh is deterministic for a fixed matrix, and each
    eigenvector's sign is canonicalized (first nonzero component
    positive) so reruns and partitionings give identical projections.
    Covariance (mean-centered) PCA follows by subtracting the mean
    outer-product — kept as raw (uncentered) Gram here to stay on the
    exact-integer path end to end."""
    import numpy as np

    cells = gram_matrix(df, vec_col=vec_col, unit=unit).collect()
    d = max(c["j"] for c in cells) + 1
    g = np.zeros((d, d))
    for c in cells:
        g[c["i"], c["j"]] = c["gram"]
        g[c["j"], c["i"]] = c["gram"]
    # back to (unquantized) vector units; symmetric -> eigh (ascending)
    g /= unit * unit
    vals, vecs = np.linalg.eigh(g)
    order = np.argsort(vals)[::-1][:k]
    axes = vecs[:, order]  # d x k
    for col in range(axes.shape[1]):  # canonical sign
        nz = np.flatnonzero(np.abs(axes[:, col]) > 1e-12)
        if len(nz) and axes[nz[0], col] < 0:
            axes[:, col] = -axes[:, col]
    projections = [
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(w)) for w in axes[:, col]]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias(f"pc{col + 1}")
        for col in range(axes.shape[1])
    ]
    return df.select(F.col(id_col), *projections)


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    n_centroids: int = 8,
) -> DataFrame:
    """Product-quantization encoding with DETERMINISTIC codebooks — the
    index write-path that completes the ANN storage ladder (float32 ->
    int8 scalar quantization -> PQ codes at m*log2(n_centroids) bits
    per vector, here 4 x 3 bits vs 2048 float bits).

    Each vector splits into ``m`` contiguous subspaces of ``dim/m``
    components; per subspace the codebook is the sub-vectors of the
    first ``n_centroids`` corpus vectors by id (the same auditable-
    pivot policy as ivf_pivot_topk — a learned-KMeans codebook would be
    partition-layout-dependent, this one is a pure function of the
    data). Assignment minimizes EXACT integer squared L2 distance
    (components quantized to 1e-4 units, so the argmin and its
    tie-break — smallest centroid id — are bit-reproducible across
    engines and reruns). Subspaces are axis-aligned by design: an OPQ
    rotation (Ge et al., CVPR'13) cannot be integer-exact cross-engine
    and is deliberately out of scope — see SCALING.md §2 ("OPQ
    rotation: deliberately NOT planned") for the documented trade.

    Plan shape (round 10 — corpus-relative codebooks made the old
    interpreted ``zip_with`` fold the bottleneck at n * m * n_centroids
    evaluations, and an explode-grid rewrite still paid an
    n * dim * n_centroids streamed join + multi-million-group hash
    aggregate): the salt-group BLAS kernel doctrine — vectors hash
    into defaultParallelism groups, the codebook replicates once per
    group, and one kernel per group runs m exact-integer sub-space
    matmuls (argmin tie-break to the smallest centroid id = numpy
    argmin's first-minimum over id-sorted codewords). Vectors shuffle
    ONCE; the output is the (id, sub, code, dist_q) codes frame — at
    100 TB the only corpus-sized exchange, 16x narrower than the
    vectors.
    """
    d_sub = dim // m
    qexpr = F.expr(
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * 10000 + 0.5) AS BIGINT))"
    )
    spark = df.sparkSession
    n_salts = spark.sparkContext.defaultParallelism
    seeds = (
        df.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("vec_id"), qexpr.alias("qv"))
    )
    probers = df.select(
        F.pmod(F.col(id_col), F.lit(n_salts)).cast("int").alias("g"),
        F.col(id_col).alias("vec_id"),
        qexpr.alias("qv"),
        F.lit(False).alias("is_seed"),
    )
    # generator replication, no join (see assign_pivot_cells)
    seeds_rep = seeds.select(
        # sequence of int literals -> array<int>, so the exploded g is
        # already int32 (matching the probers' pmod cast)
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("g"),
        "vec_id",
        "qv",
        F.lit(True).alias("is_seed"),
    )
    out = (
        probers.unionByName(seeds_rep)
        .groupBy("g")
        .applyInArrow(
            lambda t_: _pq_encode_arrow(t_, m, d_sub),
            schema="vec_id long, sub int, code long, dist_q long",
        )
    )
    return out.select(
        F.col("vec_id").alias(id_col), "sub", "code", "dist_q"
    )


def _pq_encode_arrow(tbl, m: int, d_sub: int):
    """Salt-group PQ encoding kernel: per subspace, one exact-integer
    squared-L2 matmul (_exact_sq_l2) against the id-sorted codebook;
    argmin with ties to the smallest centroid id (numpy argmin returns
    the FIRST minimum, and codewords are in ascending id order, so the
    tie-break is structural). All arithmetic on the 1e-4 integer grid:
    values identical to the packed-long aggregate this replaces and to
    the oracle's (sub, j, q) grid replay. Rows come out subspace-major:
    every prober's sub-0 code, then sub 1, ..."""
    import numpy as np
    import pyarrow as pa

    split = _split_group(tbl, "is_seed")
    if split is None:
        return pa.table({})
    cids, C, pids, P = split
    rows = np.arange(len(pids))
    codes, dists = [], []
    for s in range(m):
        sub = slice(s * d_sub, (s + 1) * d_sub)
        D2 = _exact_sq_l2(P[:, sub], C[:, sub])
        idx = np.argmin(D2, axis=1)
        codes.append(cids[idx])
        dists.append(D2[rows, idx])
    return pa.table(
        {
            "vec_id": np.tile(pids, m),
            "sub": np.repeat(np.arange(m, dtype=np.int32), len(pids)),
            "code": np.concatenate(codes),
            "dist_q": np.concatenate(dists),
        }
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    m: int = 4,
    n_centroids: int = 8,
) -> DataFrame:
    """PQ search via Asymmetric Distance Computation (ADC) — the read
    path that pairs with :func:`pq_encode`: the corpus is represented
    ONLY by its PQ codes (m small ints per vector); each query builds a
    per-subspace distance table against the codebook (m x n_centroids
    exact integer squared L2 entries); a candidate's approximate
    distance is the sum of its codes' table entries. This is the
    standard IVFADC search half (Jegou et al., PAMI'11) minus the IVF
    cell prune (compose with ivf_pivot_topk for that).

    Deterministic end to end: the codebook is the same auditable-pivot
    policy as pq_encode, distances are exact integers, and top-k ties
    break on neighbor id — so an SQL oracle replays the whole search.

    Plan shape: the distance table is a (queries x m x n_centroids)-row
    BROADCAST; the scan side is the CODES table (m longs per corpus
    row — the 16x-compressed representation, exactly what makes PQ
    search cheap at 100 TB: the raw vectors never stream), one
    broadcast join + one (query, neighbor) reduce + one per-query
    top-k window over k-bounded rows.
    """
    codes = pq_encode(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        m=m,
        n_centroids=n_centroids,
    ).select(F.col(id_col).alias("neighbor_id"), "sub", "code")
    d_sub = dim // m
    seeds = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("_cv"))
    )
    sub_of = lambda c, s: F.slice(F.col(c), s * d_sub + 1, d_sub)  # noqa: E731
    qsubs = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(
            F.array(*[sub_of(vec_col, s) for s in range(m)])
        ).alias("sub", "qvec"),
    )
    csubs = seeds.select(
        "centroid_id",
        F.posexplode(
            F.array(*[sub_of("_cv", s) for s in range(m)])
        ).alias("sub", "cvec"),
    )
    qdist = F.aggregate(
        F.zip_with(
            F.col("qvec"),
            F.col("cvec"),
            lambda a, b: F.floor(a.cast("double") * 10000 + F.lit(0.5))
            - F.floor(b.cast("double") * 10000 + F.lit(0.5)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x * x,
    )
    dtable = F.broadcast(
        qsubs.join(csubs, "sub").select(
            "query_id", "sub", F.col("centroid_id").alias("code"),
            qdist.alias("d"),
        )
    )
    scored = (
        codes.join(dtable, ["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist_q"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist_q", "rank")
    )


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    m: int = 4,
    n_centroids: int = 8,
) -> DataFrame:
    """IVFADC (Jegou et al., PAMI'11): the full quantized-ANN index —
    IVF cell pruning (deterministic pivot cells, as ivf_pivot_topk)
    composed with PQ asymmetric-distance ranking (as pq_adc_topk).
    Queries probe their ``n_probe`` closest cells; only corpus vectors
    in probed cells are ranked, and ranking reads ONLY their PQ codes.
    This is the architecture FAISS ships as its default large-scale
    index; both halves here are the auditable deterministic variants,
    so the whole search replays in SQL. Round 10: cell assignment and
    probing rank by quantized integer dot through the salt-group BLAS
    kernel (assign_pivot_cells — see ivf_pivot_topk for the measured
    rationale).

    Plan: cells and codes are both index-build artifacts (one kernel
    pass + one reduce each, computed once and reusable); search joins
    the tiny probe set to the cell-partitioned codes, then one
    broadcast distance-table join + (query, neighbor) reduce +
    k-bounded window. At 100 TB the codes table is the only corpus-
    sized scan — 16x narrower than the raw vectors — and the cell join
    prunes it to n_probe/n_cells of the corpus.
    """
    seeds = (
        corpus.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("seed_id"), F.col(vec_col).alias("seed_vec")
        )
    )
    cells = assign_pivot_cells(
        corpus, seeds, 1, id_col=id_col, vec_col=vec_col
    ).select(F.col("vec_id").alias(id_col), "cell")
    probes = assign_pivot_cells(
        queries, seeds, n_probe, id_col=query_id_col, vec_col=vec_col
    ).select(F.col("vec_id").alias(query_id_col), "cell")
    codes = pq_encode(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        m=m,
        n_centroids=n_centroids,
    ).select(F.col(id_col).alias("neighbor_id"), "sub", "code")
    cand = (
        probes.join(
            cells.select(F.col(id_col).alias("neighbor_id"), "cell"), "cell"
        )
        .select(F.col(query_id_col).alias("query_id"), "neighbor_id")
        .distinct()
    )
    d_sub = dim // m
    sub_of = lambda c, s: F.slice(F.col(c), s * d_sub + 1, d_sub)  # noqa: E731
    qsubs = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(
            F.array(*[sub_of(vec_col, s) for s in range(m)])
        ).alias("sub", "qvec"),
    )
    csubs = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.posexplode(
                F.array(*[sub_of(vec_col, s) for s in range(m)])
            ).alias("sub", "cvec"),
        )
    )
    qdist = F.aggregate(
        F.zip_with(
            F.col("qvec"),
            F.col("cvec"),
            lambda a, b: F.floor(a.cast("double") * 10000 + F.lit(0.5))
            - F.floor(b.cast("double") * 10000 + F.lit(0.5)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x * x,
    )
    dtable = F.broadcast(
        qsubs.join(csubs, "sub").select(
            "query_id", "sub", F.col("centroid_id").alias("code"),
            qdist.alias("d"),
        )
    )
    scored = (
        cand.join(codes, "neighbor_id")
        .join(dtable, ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist_q"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist_q", "rank")
    )


def _residual_index(
    corpus: DataFrame,
    n_cells: int,
    dim: int,
    m: int,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, DataFrame]:
    """Build the residual-IVFADC index frames shared by search and audit.

    Returns ``{"seeds", "seed_q", "cells", "res", "cb_ids", "codes"}``:
    seed vectors (first ``n_cells`` corpus ids), their quantized form
    keyed by cell, the corpus cell assignment, the exact int64 residual
    vectors, the codebook member ids (the ``n_centroids`` ids AFTER the
    seeds — seed residuals are ~0 and would waste codewords), and the
    per-(vector, subspace) PQ codes over residuals.  Exposed separately
    so tests can assert the codebook-exclusion property on the actual
    emitted code ids, not just on the search ranking.
    """
    spark = corpus.sparkSession
    d_sub = dim // m
    # one ordered limit over the corpus serves BOTH the seed set (first
    # n_cells ids) and the residual-codebook id head (the n_centroids
    # after them); checkpointing the bounded frame makes the corpus
    # TakeOrdered pay once per job instead of once per consumer
    head = (
        corpus.orderBy(id_col)
        .limit(n_cells + n_centroids)
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("hv"))
        .withColumn("rn", F.row_number().over(Window.orderBy("vec_id")))
        .localCheckpoint(eager=False)
    )
    seeds = head.where(F.col("rn") <= n_cells).select(
        F.col("vec_id").alias("seed_id"), F.col("hv").alias("seed_vec")
    )
    cells = assign_pivot_cells(
        corpus, seeds, 1, id_col=id_col, vec_col=vec_col
    ).select("vec_id", "cell")
    seed_q = seeds.select(
        F.col("seed_id").alias("cell"),
        _quantize_expr("seed_vec").alias("cell_qv"),
    )
    # corpus residuals on the integer grid: grid(x) - grid(cell seed),
    # computed JVM-side (zip_with stays in codegen; the seed frame is a
    # bounded broadcast)
    res = (
        corpus.select(
            F.col(id_col).alias("vec_id"), _quantize_expr(vec_col).alias("qv")
        )
        .join(cells, "vec_id")
        .join(F.broadcast(seed_q), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with("qv", "cell_qv", lambda a, b: a - b).alias("rv"),
        )
    )
    # residual codebook: the n_centroids corpus vectors by id AFTER the
    # seeds — the tail of the same checkpointed head frame
    cb_ids = head.where(F.col("rn") > n_cells).select("vec_id")
    cb = res.join(F.broadcast(cb_ids), "vec_id").select("vec_id", "rv")
    # PQ-encode residuals through the shared salt-group kernel: corpus
    # residuals are probers, codebook residuals replicate per group
    n_salts = spark.sparkContext.defaultParallelism
    probers = res.select(
        F.pmod(F.col("vec_id"), F.lit(n_salts)).cast("int").alias("g"),
        "vec_id",
        F.col("rv").alias("qv"),
        F.lit(False).alias("is_seed"),
    )
    cb_rep = cb.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("g"),
        "vec_id",
        F.col("rv").alias("qv"),
        F.lit(True).alias("is_seed"),
    )
    codes = (
        probers.unionByName(cb_rep)
        .groupBy("g")
        .applyInArrow(
            lambda t_: _pq_encode_arrow(t_, m, d_sub),
            schema="vec_id long, sub int, code long, dist_q long",
        )
        .select(F.col("vec_id").alias("neighbor_id"), "sub", "code")
    )
    return {
        "seeds": seeds,
        "seed_q": seed_q,
        "cells": cells,
        "res": res,
        "cb": cb,
        "cb_ids": cb_ids,
        "codes": codes,
    }


def ivfadc_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    m: int = 4,
    n_centroids: int = 8,
) -> DataFrame:
    """Residual-encoding IVFADC — the TRUE Jegou et al. (PAMI'11)
    formulation: PQ encodes the RESIDUAL ``x - centroid(cell(x))``
    instead of the raw vector, and each query builds a distance table
    PER PROBED CELL from its own residual ``q - centroid(cell)``.
    Residuals concentrate near the origin, so a shared codebook covers
    them far better than it covers raw vectors — this is why FAISS's
    IVFADC quality beats flat PQ at the same code budget (the
    ``sim_ivfadc_topk`` variant here encodes raw vectors; this one is
    the quality-correct architecture). Residual encoding is also this
    engine's answer to OPQ: it recovers most of a learned rotation's
    benefit without the cross-engine float-fold hazard — see
    SCALING.md §2 ("OPQ rotation: deliberately NOT planned").

    Deterministic/auditable throughout: vectors land on the 1e-4
    integer grid; residual = grid(x) - grid(seed) is EXACT int64
    subtraction (no second quantization, no float fold); the residual
    codebook is the residuals of the first ``n_centroids`` corpus
    vectors BY ID AFTER the seeds (seeds' own residuals are ~0 and
    would waste codewords); encoding argmin ties break to the smallest
    codeword id. An SQL oracle replays the entire build + search.

    Plan shape at 100 TB: cells and codes are index-build artifacts
    (one salt-group BLAS kernel pass each, vectors shuffle ONCE);
    search scans ONLY the m-longs-per-vector code table, pruned to
    n_probe/n_cells of the corpus by the cell equi-join; the distance
    table is a (queries x n_probe x m x n_centroids)-row BROADCAST
    keyed by (query, cell, sub, code) — n_probe-fold larger than the
    raw-vector variant's table, still bounded by the query set, never
    by the corpus.
    """
    d_sub = dim // m
    idx = _residual_index(
        corpus, n_cells, dim, m, n_centroids, id_col=id_col, vec_col=vec_col
    )
    seeds, seed_q, cells = idx["seeds"], idx["seed_q"], idx["cells"]
    cb, codes = idx["cb"], idx["codes"]
    probes = assign_pivot_cells(
        queries, seeds, n_probe, id_col=query_id_col, vec_col=vec_col
    ).select(F.col("vec_id").alias("query_id"), "cell")
    # query residuals PER PROBED CELL -> per-(query, cell) distance table
    qres = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            _quantize_expr(vec_col).alias("qv"),
        )
        .join(probes, "query_id")
        .join(F.broadcast(seed_q), "cell")
        .select(
            "query_id",
            "cell",
            F.zip_with("qv", "cell_qv", lambda a, b: a - b).alias("rq"),
        )
    )
    sub_of = lambda c, s: F.slice(F.col(c), s * d_sub + 1, d_sub)  # noqa: E731
    qsubs = qres.select(
        "query_id",
        "cell",
        F.posexplode(
            F.array(*[sub_of("rq", s) for s in range(m)])
        ).alias("sub", "rqs"),
    )
    cbsubs = cb.select(
        F.col("vec_id").alias("code"),
        F.posexplode(
            F.array(*[sub_of("rv", s) for s in range(m)])
        ).alias("sub", "cws"),
    )
    d = F.aggregate(
        F.zip_with(F.col("rqs"), F.col("cws"), lambda a, b: a - b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x * x,
    )
    dtable = F.broadcast(
        qsubs.join(cbsubs, "sub").select(
            "query_id", "cell", "sub", "code", d.alias("d")
        )
    )
    cand = probes.join(
        cells.select(F.col("vec_id").alias("neighbor_id"), "cell"), "cell"
    ).select("query_id", "neighbor_id", "cell")
    scored = (
        cand.join(codes, "neighbor_id")
        .join(dtable, ["query_id", "cell", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist_q"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist_q", "rank")
    )
