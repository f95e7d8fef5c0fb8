"""Catalog extensions, round 6 continuation: evaluation statistics and
graph/structure analysis for training-data curation —

* k-core extraction over a mutual-kNN embedding graph (manifold core
  vs periphery — the structural outlier filter SemDeDup-style pipelines
  run before clustering);
* unbiased pass@k estimation (Chen et al. 2021, HumanEval) with exact
  binomial integer arithmetic;
* nucleus (top-p) cutoff audit over an n-gram next-token distribution
  (how concentrated is the corpus' continuation mass per context).

Same doctrine as the sibling catalog modules: exact-integer outputs,
bit-exact DuckDB oracle replays (unrolled CTE rounds for the iterative
peel), plans that survive 100 TB — bounded candidate generation,
windowed reductions, no driver loops, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.catalog import register, t

# ---------------------------------------------------------------------------
# k-core of the mutual-kNN embedding graph
# ---------------------------------------------------------------------------

_KNN_K = 5          # neighbors per vector (quantized-dot, ties by id)
_CORE_K = 3         # peel threshold
# Measured fixpoints on the bucketed build: round 12 (sf0.001), 7 (sf0.01),
# 17 (sf0.1); peeling is monotone, so the headroom rounds are no-ops.
_PEEL_ROUNDS = 20
# IVF pivot cells for the bucketed candidate build are CORPUS-RELATIVE
# (round 8, the apriori ppm doctrine applied to the cell knob): the
# within-cell matmul is quadratic in cell size, so a fixed cell count
# grows super-linear with the corpus — n_cells = GREATEST(8, n // 250)
# holds expected cell size at ~250 vectors. The rule reproduces the old
# fixed 8 cells at every gate SF (2 k vectors at sf0.1 -> 2000//250 =
# 8), and gives 80 at the 10x replica — the exact "cells scaled 10x"
# configuration scripts/mutual_knn_scale.py measured at 4.6x/10x in r7.
# Both engines derive it from COUNT(*), so the oracle replays it.
_MKNN_CELLS_MIN = 8
_MKNN_CELL_SIZE = 250
_MKNN_PROBE = 5     # probe FLOOR (multi-probe recall knob; see _mknn_knobs)
# Each vector is a MEMBER of its top-member cells (multi-assignment):
# with single assignment the candidate relation is asymmetric (u sees v
# but v never sees u), which systematically destroys MUTUAL edges —
# measured recall jumps 0.69 -> 0.95 at sf0.01 going (probe=5,
# member=1) -> (probe=5, member=2) on the near-random synthetic
# embeddings (the adversarial case for any ANN bucketing).
_MKNN_MEMBER = 2    # member FLOOR (see _mknn_knobs)


def _mknn_knobs(n_cells: int) -> tuple[int, int]:
    """Corpus-relative (probe, member) schedule — round 9, closing the
    recall dial the round-8 corpus-relative CELL knob opened.

    Scaling cells alone (n_cells = n/250) drops the per-vector probed
    fraction ~1/cells, and MEASURED recall vs the exact build collapsed
    at the 10x replica (20 k vectors, 80 cells): 0.95 -> 0.335 on the
    near-random testdata embeddings and 0.95 -> 0.406 on a
    deterministic mixture-of-Gaussians CLUSTERED fixture
    (scripts/mutual_knn_clustered_recall.py — the r8 verdict asked for
    the clustered number instead of the asserted 'clustered corpora
    hold recall', and it does NOT hold: pivots inside a tight cluster
    are interchangeable, so per-vector pivot ranking is noise-driven
    and near neighbors land in different cells).

    The schedule holds the probe count at its gate-scale RATIO to
    sqrt(cells) — probe = ceil(sqrt(25 * cells / 8)) — and the member
    count at ceil(probe / 5); at the gate cell floor (8 cells) this
    reproduces (5, 2) bit-for-bit (all three gate SFs have <= 2000
    vectors -> 8 cells), so gate results are unchanged, and at the 10x
    replica (80 cells -> probe 16, member 4) MEASURED recall returns to
    0.938 (clustered) / 0.914 (random) at 18.6 s / 14.9 s vs the exact
    build's ~40 s (numbers in PERF.md round 9; Lloyd-refined cells were
    measured too and lose on both axes: 0.61-0.69 recall at ~43 s).
    Honest cost: member ~ probe/5 keeps the scored candidate fraction
    ~constant (~probe*member*250/n ~ 5/8), so holding THIS recall on
    structure-free embeddings costs a constant fraction of all-pairs —
    that is the information-theoretic price of 0.9+ recall on k-NN
    graphs over near-random vectors, paid within cells and cheaper
    than brute force by the constant, never by asymptotics. Corpora
    whose neighbors concentrate in few cells can lower the schedule;
    graph_mutual_knn_recall_audit stays the in-gate regression signal.

    Both engines derive the same numbers: this helper on the Spark
    side (driver-side ints from one bounded count), the nc CTE in
    _mutual_cte_sql on the oracle side (CEIL/SQRT on doubles is
    correctly rounded IEEE in both engines; ceil(p/5) is spelled
    (p + 4) // 5 so it stays pure-integer)."""
    import math

    probe = max(_MKNN_PROBE, math.ceil(math.sqrt(25 * n_cells / 8)))
    member = max(_MKNN_MEMBER, (probe + 4) // 5)
    return probe, member

_QV_SQL = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000"
    " + 0.5) AS BIGINT))"
)
_QV_SPARK = (
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000"
    " + 0.5) AS BIGINT))"
)
# INT32 transport variant for the mutual-kNN candidate build's INTERNAL
# exchanges (r13, guide §2.3 "narrower types"): quantized coordinates
# are |x| <= ~1e5 wherever the exact-dot precondition bound^2*dim <=
# 2^53 holds (bound <= 1.18e7 at dim 64), so INT never truncates a
# value the BLAS kernel would accept — and the 64-element vector rows
# that cross the salt-group and cell exchanges (probe-fold replicated)
# halve. Kernels widen to int64 before the matmul; oracles keep the
# BIGINT spelling — identical integers either way.
_QV_SPARK_I32 = (
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000"
    " + 0.5) AS INT))"
)


from youtube_trending_data_pipeline_spark.operators.intlinalg import (  # noqa: E402
    _SELF_MASK,
    _exact_int_matmul,
    _exact_int_matmul_blocks,
    _list_column,
    _rowwise_topk,
    _split_group,
)

# Peak score-matrix cells per prober row-block. Without blocking, a
# salt group's D matrix is O(probers x members) ALL AT ONCE — at 100 k
# members and 32 concurrent groups that is hundreds of GB and OOM-kills
# the workers (measured: the round-10 100 k recall run died exactly
# this way). Row blocks over PROBERS are bit-exact: each prober's top-k
# is computed entirely within its own block.
# r13: 32 M cells (256 MB float64 per matrix) -> 2 M (16 MB): above
# glibc's 32 MB M_MMAP_THRESHOLD_MAX every block-loop temporary is
# mmap'd and munmap'd each iteration, so the workers page-fault and
# zero hundreds of MB per block — measured at the 100x replica as
# ~100% SYSTEM-time workers; 16 MB chunks fall back to the heap
# free-list after the first block and are reused. Per-block results
# are independent, so the value is unchanged by construction.
_KNN_BLOCK_CELLS = 2_000_000

_EXACT_SALTS = 32  # parallelism of the exact build; result-invariant

_PIVOT_ARROW_SCHEMA = (
    "cell long, vec_id long, qv array<int>, is_m boolean, is_p boolean"
)


def _pivot_rank_arrow(tbl, probe: int, member: int):
    """Pivot-assignment kernel (round 9): rank every PROBER vector's
    pivot cells by (exact integer dot DESC, seed_id ASC) with ONE
    float64-BLAS matmul per salt group and emit its top-``probe``
    (cell, vec_id, qv, is_m = rank <= member, is_p) rows.

    Replaces a crossJoin(broadcast seeds) + interpreted zip_with HOF +
    row_number window: the HOF evaluated n * n_cells * dim closures
    (~102M at the 10x replica — measured 8.9 s of the 16.9 s candidate
    build) and the ranking window shuffled n * n_cells rows each
    carrying the 64-dim vector. Here the vectors shuffle ONCE (salt
    groups), seeds replicate once per salt (O(P * n_cells) broadcast
    rows), and ranking is the vectorized _rowwise_topk. Bit-identical
    output by construction: _exact_int_matmul is exact under the
    guarded 2^53 precondition and the composite order matches the old
    window's (cdot DESC, seed_id ASC). The group crosses the Python
    boundary as flat Arrow buffers, and the replicated qv output is one
    values buffer + offsets (r13)."""
    import numpy as np
    import pyarrow as pa

    split = _split_group(tbl, "is_seed")
    if split is None:
        return pa.table({})
    sids, S, pids, P = split
    k = min(probe, len(sids))
    cols = _rowwise_topk(_exact_int_matmul(P, S), sids, k)
    rep = np.repeat(np.arange(len(pids)), k)
    ranks = np.tile(np.arange(1, k + 1, dtype=np.int64), len(pids))
    return pa.table(
        {
            "cell": sids[cols.ravel()],
            "vec_id": pids[rep],
            "qv": _list_column(P[rep]),
            "is_m": ranks <= member,
            "is_p": np.ones(len(rep), dtype=bool),
        }
    )


def _knn_cell_arrow(tbl, k: int):
    """Shared kernel of both mutual-kNN builds: score every PROBER row
    (is_p) against every MEMBER row (is_m) of its group with exact
    integer matmuls, mask self-pairs, and keep each prober's top-k by
    (dot DESC, member id ASC) — fully vectorized (_rowwise_topk; the
    per-row lexsort loop this replaces cost minutes at sf1). Probers
    stream in row blocks so peak memory is O(block x members), never
    O(probers x members) — the semdedup row-block Gram doctrine (round
    10). Member-only rows emit nothing."""
    import numpy as np
    import pyarrow as pa

    split = _split_group(tbl, "is_m", "is_p")
    if split is None:
        return pa.table({})
    mids, M, pids, P = split
    block = max(1, _KNN_BLOCK_CELLS // len(mids))
    us, vs, ds = [], [], []
    for s, D in _exact_int_matmul_blocks(P, M, block):
        pb = pids[s:s + block]
        D[pb[:, None] == mids[None, :]] = _SELF_MASK
        cols = _rowwise_topk(D, mids, k)
        dots = np.take_along_axis(D, cols, axis=1).ravel()
        keep = dots != _SELF_MASK
        us.append(np.repeat(pb, cols.shape[1])[keep])
        vs.append(mids[cols.ravel()][keep])
        ds.append(dots[keep])
    return pa.table(
        {
            "u": np.concatenate(us),
            "v": np.concatenate(vs),
            "dot": np.concatenate(ds),
        }
    )


def _mutual_knn_edges_exact(spark, sf_dir):
    """EXACT all-pairs mutual-kNN edge list — the labeled correctness
    baseline (the sim_bruteforce_topk doctrine), kept ONLY to audit the
    bucketed production build's recall (graph_mutual_knn_recall_audit).
    The graph-structure entries themselves run on the bounded
    _mutual_knn_edges candidate build below.

    Shape (round 7): probers hash into _EXACT_SALTS groups and the
    member corpus is replicated once per group via a 32-row broadcast
    spine, so the Arrow transfer is O(32 n) rows — the previous 1-row
    corpus block crossJoined onto EVERY row shipped O(n) copies of the
    whole corpus (measured 764 s at sf1, ~all serialization). Each
    group runs the shared _knn_cell_arrow (float64-BLAS exact integer
    matmul + vectorized top-k); since members = the whole corpus, the
    per-group top-k IS the exact global top-k, and the mutual
    semi-join filter follows. Quadratic compute by definition: fine as
    an audit at bench scale, never the 100 TB path."""
    q = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(_QV_SPARK_I32).alias("qv"),
    )
    salts = F.broadcast(
        spark.range(_EXACT_SALTS).select(F.col("id").cast("int").alias("cell"))
    )
    # pmod: % would put a negative id in a seedless salt group (values
    # identical for the non-negative internal vec_id)
    probers = q.select(
        F.pmod(F.col("vec_id"), F.lit(_EXACT_SALTS)).cast("int").alias("cell"),
        "vec_id",
        "qv",
        F.lit(False).alias("is_m"),
        F.lit(True).alias("is_p"),
    )
    members = q.crossJoin(salts).select(
        "cell",
        "vec_id",
        "qv",
        F.lit(True).alias("is_m"),
        F.lit(False).alias("is_p"),
    )
    knn = (
        probers.unionByName(members)
        .groupBy("cell")
        .applyInArrow(
            lambda t_: _knn_cell_arrow(t_, _KNN_K),
            schema="u long, v long, dot long",
        )
        .select("u", "v")
    )
    # same r13 mutual filter as the production build: each prober
    # lives in exactly one salt group, so (u, v) is unique in knn and
    # a reciprocal edge is exactly an unordered pair counted twice —
    # one aggregate, no self semi-join (which recomputed the quadratic
    # kernel subtree for its second input)
    mut = (
        knn.groupBy(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") == 2)
    )
    return mut.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _mutual_knn_scored(spark, sf_dir):
    """Deduped scored candidate pairs (u, v, dot) of the BOUNDED
    mutual-kNN candidate generation — the stage _mutual_knn_edges
    ranks and mutual-filters (split out in round 8 so margin mining,
    catalog_quality.sim_margin_topk, reuses the candidate build) — the
    production build the graph-structure entries run on (kcore / ktruss
    / rich-club), replacing the round-6 all-pairs block (kept as
    _mutual_knn_edges_exact for the recall audit only).

    IVF-pivot architecture (the sim_ivf_pivot_topk doctrine, so the
    whole build is a pure function of the data — deterministic across
    engines, partitionings, and reruns):

    * the first GREATEST(_MKNN_CELLS_MIN, n // _MKNN_CELL_SIZE) corpus
      vectors by id are the pivot cells (corpus-relative, round 8 —
      see the knob comment above);
    * every vector ranks the pivots by exact quantized int64 dot
      (ties to the smaller pivot id): ranks 1..member are its
      MEMBER cells (multi-assignment — keeps the candidate relation
      near-symmetric, which mutual filtering needs; see the knob
      comment above), ranks 1..probe its PROBED cells (multi-probe —
      the recall knob); probe and member are CORPUS-RELATIVE since
      round 9 (_mknn_knobs: probe ~ sqrt(cells), member ~ probe/5 —
      reproduces (5, 2) at the 8-cell gate floor, holds measured
      recall ~0.92-0.94 at the 10x replica's 80 cells);
    * candidates for u = members of u's probed cells; a (u, v) pair
      can surface in up to `member` cells with the SAME exact dot,
      so one distinct() collapses the duplicates;
    * per cell, one applyInArrow float64-BLAS exact matmul scores probers
      against members (the semdedup within-cell BLAS doctrine) and
      keeps each prober's per-cell top-_KNN_K by (-dot, neighbor id);
    * a global per-u window reduces the <= probe * _KNN_K
      survivors to the true candidate top-_KNN_K (top-k of a union is
      the top-k of the per-group top-ks), and the mutual semi-join
      filter is unchanged from the exact build.

    Scale shape: pivot ranking is an 8-row broadcast constant-append;
    the per-cell matmul is quadratic WITHIN cells only, so n_cells
    scales with the corpus exactly like semdedup_keepers' measured
    knob (scripts/semdedup_scale.py); the shuffle moves only
    (u, v, dot) longs — vectors never travel past the cell stage."""
    q = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QV_SPARK_I32).alias("qv")
    )
    # corpus-relative cell count (see the knob comment above): one
    # bounded count() action so the seed take stays a
    # TakeOrderedAndProject (a dynamic LIMIT column would force a
    # global sort); the oracle derives the same number from COUNT(*).
    n_cells = max(
        _MKNN_CELLS_MIN,
        t(spark, sf_dir, "embeddings").count() // _MKNN_CELL_SIZE,
    )
    # corpus-relative probe/member schedule (round 9): reproduces
    # (5, 2) at the 8-cell gate floor, scales with sqrt(cells) past it
    # — see _mknn_knobs for the measured recall/cost trade.
    probe, member = _mknn_knobs(n_cells)
    seeds = q.orderBy("vec_id").limit(n_cells)
    # salt-group pivot ranking (round 9): probers hash into P groups,
    # seeds replicate once per group via a bounded broadcast spine, and
    # one BLAS kernel per group ranks every prober's cells — replacing
    # a crossJoin + interpreted-zip_with-dot + row_number window whose
    # ranking shuffle carried n * n_cells 64-dim vector copies
    # (measured: the old stage alone was 8.9 s of the 16.9 s sf1
    # candidate build). The salt count only partitions WORK; each
    # vector's output is a pure function of (qv, seeds), so results
    # are bit-identical at any parallelism.
    n_salts = spark.sparkContext.defaultParallelism
    salts = F.broadcast(
        spark.range(n_salts).select(F.col("id").cast("int").alias("g"))
    )
    # pmod: % would put a negative id in a seedless salt group (values
    # identical for the non-negative internal vec_id)
    probers = q.select(
        F.pmod(F.col("vec_id"), F.lit(n_salts)).cast("int").alias("g"),
        "vec_id",
        "qv",
        F.lit(False).alias("is_seed"),
    )
    seeds_rep = seeds.crossJoin(salts).select(
        "g", "vec_id", "qv", F.lit(True).alias("is_seed")
    )
    tagged = (
        probers.unionByName(seeds_rep)
        .groupBy("g")
        .applyInArrow(
            lambda t_: _pivot_rank_arrow(t_, probe, member),
            schema=_PIVOT_ARROW_SCHEMA,
        )
    )
    scored = tagged.groupBy("cell").applyInArrow(
        lambda t_: _knn_cell_arrow(t_, _KNN_K),
        schema="u long, v long, dot long",
    )
    # a (u, v) pair surfaces once per shared member cell with the SAME
    # exact dot — collapse before ranking so row_number never spends
    # top-k slots on duplicates.  r13: one exchange instead of two —
    # an explicit repartition("u") followed by groupBy(u, v) needs no
    # second exchange (HashPartitioning(u) satisfies the (u, v)
    # clustering), and every consumer's per-u ranking window then runs
    # on the SAME partitioning with zero further exchanges; the old
    # .distinct() exchanged by (u, v, dot) and the window re-exchanged
    # by u.  max(dot) over the duplicate group IS the dot (identical
    # across copies), so the row set is unchanged.
    return (
        scored.repartition("u")
        .groupBy("u", "v")
        .agg(F.max("dot").alias("dot"))
    )


def _mutual_knn_edges(spark, sf_dir):
    """Mutual-kNN edge list: rank _mutual_knn_scored's candidate pairs
    per u (dot DESC, v ASC), keep top-_KNN_K, keep only reciprocal
    edges — the production build the graph-structure entries run on.

    r13 mutual filter: an edge is reciprocal iff BOTH directed rows
    (u, v) and (v, u) survive the per-u top-k, i.e. iff the unordered
    pair {u, v} appears exactly twice in knn ((u, v) is unique per
    direction after the upstream (u, v) collapse).  One count
    aggregate keyed on (least, greatest) replaces the old self
    semi-join, which exchanged BOTH sides by composite keys and —
    because the join's two subtrees only share plan fragments up to
    the last common exchange — ran the ranking window twice."""
    pairs = _mutual_knn_scored(spark, sf_dir)
    w_knn = W.partitionBy("u").orderBy(F.desc("dot"), F.asc("v"))
    knn = (
        pairs.withColumn("rn", F.row_number().over(w_knn))
        .where(F.col("rn") <= _KNN_K)
        .select("u", "v")
    )
    mut = (
        knn.groupBy(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") == 2)
    )
    return mut.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _mutual_cte_sql(
    edge_name: str = "e0",
    canonical: bool = False,
    with_dots: bool = False,
) -> str:
    """CTE chain (sans leading WITH) replaying the BUCKETED mutual-kNN
    build bit-exactly: pivot ranking, multi-probe candidates, exact
    integer dot re-rank, mutual filter. Shared by the kcore / ktruss /
    rich-club oracles and the recall audit; ``with_dots`` keeps the dot
    value on the scored/knn CTEs (same ranking) for the margin-mining
    oracle (catalog_quality.sim_margin_topk)."""
    guard = "WHERE a.u < a.v" if canonical else ""
    if with_dots:
        scored = f"""scored AS (
      SELECT u, v, dot,
             ROW_NUMBER() OVER (PARTITION BY u
               ORDER BY dot DESC, v) AS rn
      FROM (
        SELECT c.u, c.v,
               list_sum(list_transform(range(1, 65),
                        i -> a.qv[i] * b.qv[i])) AS dot
        FROM cand c JOIN q a ON c.u = a.vec_id JOIN q b ON c.v = b.vec_id
      )
    ), knn AS MATERIALIZED (
      SELECT u, v, dot FROM scored WHERE rn <= {_KNN_K}),"""
    else:
        scored = f"""scored AS (
      SELECT c.u, c.v,
             ROW_NUMBER() OVER (PARTITION BY c.u
               ORDER BY list_sum(list_transform(range(1, 65),
                                 i -> a.qv[i] * b.qv[i])) DESC,
                        c.v) AS rn
      FROM cand c JOIN q a ON c.u = a.vec_id JOIN q b ON c.v = b.vec_id
    ), knn AS MATERIALIZED (SELECT u, v FROM scored WHERE rn <= {_KNN_K}),"""
    return f"""q AS MATERIALIZED (
      SELECT vec_id, {_QV_SQL} AS qv FROM embeddings
    ), nc AS MATERIALIZED (
      -- corpus-relative cells AND probe/member schedule (round 9):
      -- probe = ceil(sqrt(25 * cells / 8)) with floor {_MKNN_PROBE},
      -- member = ceil(probe / 5) as (probe + 4) // 5 with floor
      -- {_MKNN_MEMBER} — replays _mknn_knobs bit-for-bit (CEIL/SQRT on
      -- doubles is correctly-rounded IEEE in both engines)
      SELECT n_cells, probe,
             GREATEST({_MKNN_MEMBER}, (probe + 4) // 5) AS member
      FROM (
        SELECT n_cells,
               GREATEST({_MKNN_PROBE},
                        CAST(CEIL(SQRT(CAST(25 * n_cells AS DOUBLE) / 8))
                             AS BIGINT)) AS probe
        FROM (
          SELECT GREATEST({_MKNN_CELLS_MIN},
                          COUNT(*) // {_MKNN_CELL_SIZE}) AS n_cells
          FROM q
        )
      )
    ), seeds AS MATERIALIZED (
      SELECT vec_id AS seed_id, qv AS seed_qv FROM (
        SELECT vec_id, qv,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM q
      ) r, nc WHERE r.rn <= nc.n_cells
    ), cellrank AS MATERIALIZED (
      SELECT a.vec_id, s.seed_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY list_sum(list_transform(range(1, 65),
                                 i -> a.qv[i] * s.seed_qv[i])) DESC,
                        s.seed_id) AS cr
      FROM q a CROSS JOIN seeds s
    ), cand AS MATERIALIZED (
      SELECT DISTINCT p.vec_id AS u, m.vec_id AS v
      FROM cellrank p
      JOIN cellrank m ON p.seed_id = m.seed_id
      CROSS JOIN nc
      WHERE m.cr <= nc.member AND p.cr <= nc.probe
        AND p.vec_id <> m.vec_id
    ), {scored}
    {edge_name} AS MATERIALIZED (
      SELECT a.u AS src, a.v AS dst
      FROM knn a JOIN knn b ON a.u = b.v AND a.v = b.u
      {guard}
    )"""


def _kcore_oracle() -> str:
    """Unrolled replay: bucketed mutual-kNN build + _PEEL_ROUNDS peel
    rounds.

    Every round CTE is MATERIALIZED: each round references the previous
    one three times (degree filter + two survivor joins), so DuckDB's
    default CTE inlining would expand the plan 3^rounds-fold."""
    steps = []
    for i in range(1, _PEEL_ROUNDS + 1):
        steps.append(f"""
    s{i} AS MATERIALIZED (
      SELECT src AS node FROM e{i - 1} GROUP BY 1 HAVING COUNT(*) >= {_CORE_K}
    ),
    e{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{i - 1} e
      JOIN s{i} a ON e.src = a.node JOIN s{i} b ON e.dst = b.node
    )""")
    return f"""
    WITH {_mutual_cte_sql("e0")},
    {','.join(steps)}
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM e{_PEEL_ROUNDS} GROUP BY 1
    """


@register(
    "graph_kcore_mutual_knn",
    _kcore_oracle(),
    "k-core extraction (Seidman 1983) over the MUTUAL-kNN embedding "
    "graph: each vector links to its 5 nearest neighbors by exact "
    "quantized-integer dot product (the embedding_quantize_int8 "
    "fixed-point scheme, so the ranking is bit-exact across engines), "
    "an edge survives only if it is reciprocal, and the 3-core is "
    "peeled out by fixed synchronous rounds — removing the manifold "
    "PERIPHERY (vectors nobody links back to) from the dense CORE, "
    "the structural outlier filter curation pipelines run before "
    "semantic clustering. Fixed-round peel + unrolled-CTE oracle is "
    "the pagerank/LPA doctrine: peeling is monotone, so rounds past "
    "the measured fixpoint are no-ops, and the whole operator is a "
    "pure function of the data. Round 7: the kNN build is the BOUNDED "
    "IVF-pivot candidate generation (_mutual_knn_edges — "
    "deterministic pivot cells, 5-probe, 2-member multi-assignment, "
    "within-cell BLAS re-rank, measured recall 0.94-0.95 vs exact at "
    "the gate SFs); round 8 makes the cell count corpus-relative "
    "in-code (GREATEST(8, n // 250), oracle-replayed from COUNT(*)) "
    "so the within-cell quadratic never outgrows the corpus — the "
    "recall/cost dial this moves is measured and documented in "
    "PERF.md, and graph_mutual_knn_recall_audit is the in-gate "
    "regression signal for it. The retired quadratic build survives "
    "only as the recall audit's exact baseline. Per peel round: one "
    "degree aggregate + two semi-joins, edge-side shuffle-free under "
    "src bucketing (tests/test_bucketing.py).",
)
def graph_kcore_mutual_knn(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.graph import kcore_peel

    mutual = _mutual_knn_edges(spark, sf_dir)
    return kcore_peel(mutual, k=_CORE_K, rounds=_PEEL_ROUNDS)


def _mutual_recall_oracle() -> str:
    return f"""
    WITH {_mutual_cte_sql("bmut", canonical=True)},
    exact_scored AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY list_sum(list_transform(range(1, 65),
                                 i -> a.qv[i] * b.qv[i])) DESC,
                        b.vec_id) AS rn
      FROM q a JOIN q b ON a.vec_id <> b.vec_id
    ), eknn AS MATERIALIZED (
      SELECT u, v FROM exact_scored WHERE rn <= {_KNN_K}
    ), emut AS MATERIALIZED (
      SELECT a.u AS src, a.v AS dst
      FROM eknn a JOIN eknn b ON a.u = b.v AND a.v = b.u
      WHERE a.u < a.v
    ), counts AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM emut) AS exact_edges,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM bmut) AS bucketed_edges,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM emut e
          JOIN bmut b ON e.src = b.src AND e.dst = b.dst) AS common_edges
    )
    SELECT exact_edges, bucketed_edges, common_edges,
           CAST((1000000 * common_edges)
                // GREATEST(exact_edges, 1) AS BIGINT) AS recall_ppm
    FROM counts
    """


@register(
    "graph_mutual_knn_recall_audit",
    _mutual_recall_oracle(),
    "Recall audit of the BUCKETED mutual-kNN build the graph-structure "
    "entries (kcore / ktruss / rich-club) run on, against the retired "
    "all-pairs exact build — the sim_pq_recall_audit doctrine applied "
    "to graph construction: canonical (src < dst) mutual edges from "
    "both builds, edge counts, their intersection, and recall in exact "
    "integer ppm. This is the ONLY entry that still executes the "
    "quadratic all-pairs kernel, deliberately, as the labeled "
    "correctness baseline; the production build it audits is the "
    "IVF-pivot multi-probe candidate path whose cost is bounded "
    "within cells (n_cells scales with the corpus, the semdedup "
    "knob). A recall regression here is the early-warning signal "
    "that the cell/probe knobs need retuning before the downstream "
    "structure mining silently degrades.",
)
def graph_mutual_knn_recall_audit(spark, sf_dir):
    exact = (
        _mutual_knn_edges_exact(spark, sf_dir)
        .where(F.col("src") < F.col("dst"))
        .localCheckpoint(eager=False)
    )
    bucketed = (
        _mutual_knn_edges(spark, sf_dir)
        .where(F.col("src") < F.col("dst"))
        .localCheckpoint(eager=False)
    )
    e = exact.agg(F.count(F.lit(1)).cast("long").alias("exact_edges"))
    b = bucketed.agg(
        F.count(F.lit(1)).cast("long").alias("bucketed_edges")
    )
    c = exact.join(bucketed, ["src", "dst"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("common_edges")
    )
    return (
        e.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c))
        .select(
            "exact_edges",
            "bucketed_edges",
            "common_edges",
            F.expr(
                "CAST((1000000 * common_edges)"
                " div GREATEST(exact_edges, 1) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Unbiased pass@k estimator
# ---------------------------------------------------------------------------

_PASS_MAX_TRIALS = 20
_PASS_KS = (1, 5, 10)


def _binom_prod(n_expr: str, k: int) -> str:
    """C(n, k) as a literal falling-factorial product over k!.

    Exact in int64: the k-term product of consecutive integers is
    divisible by k! (it IS k! * C(n,k)), and with n <= 20, k <= 10 the
    intermediate tops out at 20!/10! ~ 6.7e11. For n < k one factor is
    exactly zero, so C(n,k) = 0 falls out with no branch. Same string
    is valid Spark SQL and DuckDB SQL (integer `//` spelled as div/CAST
    by the caller)."""
    import math

    prod = " * ".join(f"(({n_expr}) - {i})" for i in range(k))
    return f"(({prod}) DIV {math.factorial(k)})"


def _pass_at_k_sql() -> str:
    arms = []
    for k in _PASS_KS:
        den = _binom_prod("n_trials", k)
        miss = _binom_prod("n_trials - n_pass", k)
        arms.append(f"""
      SELECT user_id, CAST({k} AS BIGINT) AS k, n_trials, n_pass,
             CAST({den} - {miss} AS BIGINT) AS pass_num,
             CAST({den} AS BIGINT) AS pass_den,
             CAST((1000000 * ({den} - {miss})) // {den} AS BIGINT)
               AS pass_ppm
      FROM agg WHERE n_trials >= {k}""")
    body = "\n      UNION ALL\n".join(arms)
    return f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_ns(ts), event_id) AS rn
      FROM events
    ), agg AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_trials,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pass
      FROM ranked WHERE rn <= {_PASS_MAX_TRIALS}
      GROUP BY user_id
    )
    {body}
    """.replace(" DIV ", " // ")


@register(
    "eval_pass_at_k",
    _pass_at_k_sql(),
    "Unbiased pass@k estimator (Chen et al. 2021, the HumanEval "
    "codegen metric): per task (user), take the first n <= 20 samples "
    "(events, first-seen order), count passes (purchases), and report "
    "pass@k = 1 - C(n-c,k)/C(n,k) for k in {1,5,10} as EXACT integer "
    "numerator/denominator plus a ppm rendering — the naive c/n "
    "estimator is biased for k > 1; this combinatorial form is the "
    "published fix, and falling-factorial products over k! keep every "
    "intermediate in int64 so both engines agree bit-for-bit. One "
    "window + one aggregate + a 3-arm constant fan-out: the per-task "
    "cap bounds the combinatorics AND the window state at 100 TB "
    "(rank-then-filter pushes the cap map-side under AQE).",
)
def eval_pass_at_k(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    wr = W.partitionBy("user_id").orderBy("ts", "event_id")
    agg = (
        ev.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= _PASS_MAX_TRIALS)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trials"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pass"),
        )
    )
    arms = []
    for k in _PASS_KS:
        den = _binom_prod("n_trials", k)
        miss = _binom_prod("n_trials - n_pass", k)
        arms.append(
            agg.where(F.col("n_trials") >= k).select(
                "user_id",
                F.lit(k).cast("long").alias("k"),
                "n_trials",
                "n_pass",
                F.expr(f"CAST({den} - {miss} AS BIGINT)").alias("pass_num"),
                F.expr(f"CAST({den} AS BIGINT)").alias("pass_den"),
                F.expr(
                    f"CAST((1000000 * ({den} - {miss})) DIV {den} AS BIGINT)"
                ).alias("pass_ppm"),
            )
        )
    out = arms[0]
    for arm in arms[1:]:
        out = out.unionAll(arm)
    return out


# ---------------------------------------------------------------------------
# Nucleus (top-p) cutoff audit over bigram continuations
# ---------------------------------------------------------------------------

_TOKS_SQL = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
# Spark-SQL spelling of _toks_a() for use inside F.expr lambdas
_TOKS_A_SQL = "filter(split(lower(text), ' '), x -> x != '')"
_NUCLEUS_P_PCT = 90
_NUCLEUS_MIN_TOTAL = 5


@register(
    "ngram_nucleus_cutoff",
    f"""
    WITH tk AS (
      SELECT {_TOKS_SQL} AS toks FROM documents
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(toks)),
             i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
      FROM tk WHERE len(toks) >= 2
    ), cnt AS (
      SELECT b.w1 AS context, b.w2 AS nxt,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM bg GROUP BY 1, 2
    ), cum AS (
      SELECT context, nxt, c,
             SUM(c) OVER (PARTITION BY context) AS total,
             SUM(c) OVER (PARTITION BY context
                          ORDER BY c DESC, nxt
                          ROWS UNBOUNDED PRECEDING) AS run,
             ROW_NUMBER() OVER (PARTITION BY context
                                ORDER BY c DESC, nxt) AS rn
      FROM cnt
    )
    SELECT context,
           CAST(MAX(total) AS BIGINT) AS total_cnt,
           CAST(COUNT(*) AS BIGINT) AS vocab_next,
           CAST(SUM(CASE WHEN 100 * (run - c)
                         < {_NUCLEUS_P_PCT} * total THEN 1 ELSE 0 END)
                AS BIGINT) AS nucleus_size,
           MAX(CASE WHEN rn = 1 THEN nxt END) AS top_next
    FROM cum
    GROUP BY context
    HAVING MAX(total) >= {_NUCLEUS_MIN_TOTAL}
    """,
    "Nucleus (top-p) cutoff audit (Holtzman et al. 2020) over the "
    "corpus bigram next-token distribution: per context token, rank "
    "continuations by frequency (ties lexicographic), and report how "
    "many tokens the p=0.9 nucleus needs — the smallest prefix whose "
    "cumulative mass reaches 90% — plus total mass, branching factor, "
    "and the argmax continuation. The all-integer cumulative test "
    "(100*(run-c) < 90*total counts tokens whose PRECEDING mass is "
    "still short of the threshold) avoids any float probability, so "
    "the oracle replays it bit-for-bit. Shape: one explode + one "
    "(context,next) count + one windowed reduction per context — "
    "vocab-bounded state, no joins; exactly the concentration audit "
    "run before choosing decoding/filter thresholds on corpus-derived "
    "LMs.",
)
def ngram_nucleus_cutoff(spark, sf_dir):
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))
    docs = t(spark, sf_dir, "documents").select(toks.alias("toks"))
    bg = (
        docs.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("b")
        )
        .select(F.col("b.w1").alias("context"), F.col("b.w2").alias("nxt"))
    )
    cnt = bg.groupBy("context", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wt = W.partitionBy("context")
    wo = W.partitionBy("context").orderBy(F.desc("c"), F.asc("nxt"))
    cum = cnt.select(
        "context",
        "nxt",
        "c",
        F.sum("c").over(wt).alias("total"),
        F.sum("c").over(wo.rowsBetween(W.unboundedPreceding, 0)).alias("run"),
        F.row_number().over(wo).alias("rn"),
    )
    return (
        cum.groupBy("context")
        .agg(
            F.max("total").cast("long").alias("total_cnt"),
            F.count(F.lit(1)).cast("long").alias("vocab_next"),
            F.sum(
                F.when(
                    100 * (F.col("run") - F.col("c"))
                    < _NUCLEUS_P_PCT * F.col("total"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("nucleus_size"),
            F.max(F.when(F.col("rn") == 1, F.col("nxt"))).alias("top_next"),
        )
        .where(F.col("total_cnt") >= _NUCLEUS_MIN_TOTAL)
    )


# ---------------------------------------------------------------------------
# Entity resolution: blocked Fellegi-Sunter field-agreement scoring
# ---------------------------------------------------------------------------

# Integer log-odds-shaped weights: agreement adds w, disagreement
# subtracts u (Fellegi & Sunter 1969; Splink/dedupe.io ship the same
# shape). Floats never appear — the score is a pure integer sum.
_ER_W_SEG, _ER_U_SEG = 12, 4
_ER_W_BAND, _ER_U_BAND = 8, 3
_ER_W_CLOSE, _ER_U_CLOSE = 5, 2
_ER_THRESHOLD = 14
_ER_BAND_C = 100000       # 1000.00-unit acctbal bands (cents)
_ER_CLOSE_C = 5000        # |acctbal diff| <= 50.00 (cents)
_ER_SHIFT_C = 100000      # shift so band division is on positives only


@register(
    "er_blocked_match_score",
    f"""
    WITH c AS (
      SELECT c_custkey AS k, c_nationkey AS n, c_mktsegment AS seg,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    ), scored AS (
      SELECT a.k AS a_key, b.k AS b_key,
             CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS seg_agree,
             CASE WHEN (a.bal + {_ER_SHIFT_C}) // {_ER_BAND_C}
                     = (b.bal + {_ER_SHIFT_C}) // {_ER_BAND_C}
                  THEN 1 ELSE 0 END AS band_agree,
             CASE WHEN abs(a.bal - b.bal) <= {_ER_CLOSE_C}
                  THEN 1 ELSE 0 END AS close_agree
      FROM c a JOIN c b ON a.n = b.n AND a.k < b.k
    )
    SELECT a_key, b_key,
           CAST(seg_agree AS BIGINT) AS seg_agree,
           CAST(band_agree AS BIGINT) AS band_agree,
           CAST(close_agree AS BIGINT) AS close_agree,
           CAST(seg_agree * {_ER_W_SEG} - (1 - seg_agree) * {_ER_U_SEG}
              + band_agree * {_ER_W_BAND} - (1 - band_agree) * {_ER_U_BAND}
              + close_agree * {_ER_W_CLOSE} - (1 - close_agree) * {_ER_U_CLOSE}
              AS BIGINT) AS score
    FROM scored
    WHERE seg_agree * {_ER_W_SEG} - (1 - seg_agree) * {_ER_U_SEG}
        + band_agree * {_ER_W_BAND} - (1 - band_agree) * {_ER_U_BAND}
        + close_agree * {_ER_W_CLOSE} - (1 - close_agree) * {_ER_U_CLOSE}
        >= {_ER_THRESHOLD}
    """,
    "Entity-resolution candidate scoring (Fellegi & Sunter 1969, the "
    "model behind Splink and dedupe.io): customers are BLOCKED by "
    "nation, and every within-block pair is scored by integer "
    "agreement weights over three comparison fields — market segment "
    "equality, same 1000-unit balance band (on shifted-positive cents "
    "so integer division never touches a negative), and balance "
    "within 50.00 — keeping pairs whose summed log-odds-shaped score "
    "clears the review threshold. The blocked self-join is the "
    "canonical record-linkage shape: quadratic ONLY within a block "
    "(the dedup_ngram_jaccard doctrine — blocks are the unit of "
    "scale-out, and a skewed block is salted or split by a second "
    "blocking pass at 100 TB), all-integer so the oracle replays it "
    "bit-for-bit.",
)
def er_blocked_match_score(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("n"),
        F.col("c_mktsegment").alias("seg"),
        cents("c_acctbal").alias("bal"),
    )
    a, b = c.alias("a"), c.alias("b")
    band = lambda side: F.expr(  # noqa: E731
        f"({side}.bal + {_ER_SHIFT_C}) div {_ER_BAND_C}"
    )
    scored = (
        a.join(
            b,
            (F.col("a.n") == F.col("b.n")) & (F.col("a.k") < F.col("b.k")),
        )
        .select(
            F.col("a.k").alias("a_key"),
            F.col("b.k").alias("b_key"),
            F.when(F.col("a.seg") == F.col("b.seg"), 1)
            .otherwise(0)
            .cast("long")
            .alias("seg_agree"),
            F.when(band("a") == band("b"), 1)
            .otherwise(0)
            .cast("long")
            .alias("band_agree"),
            F.when(
                F.abs(F.col("a.bal") - F.col("b.bal")) <= _ER_CLOSE_C, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("close_agree"),
        )
        .withColumn(
            "score",
            (
                F.col("seg_agree") * _ER_W_SEG
                - (1 - F.col("seg_agree")) * _ER_U_SEG
                + F.col("band_agree") * _ER_W_BAND
                - (1 - F.col("band_agree")) * _ER_U_BAND
                + F.col("close_agree") * _ER_W_CLOSE
                - (1 - F.col("close_agree")) * _ER_U_CLOSE
            ).cast("long"),
        )
    )
    return scored.where(F.col("score") >= _ER_THRESHOLD)


# ---------------------------------------------------------------------------
# Pairwise win-rate matrix + Copeland ranking
# ---------------------------------------------------------------------------


@register(
    "eval_pairwise_winrate",
    """
    WITH s AS (
      SELECT user_id, event_type,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), duel AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             CASE WHEN a.v >= b.v THEN a.event_type
                  ELSE b.event_type END AS winner
      FROM s a JOIN s b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
    ), matchup AS (
      SELECT ta, tb,
             CAST(SUM(CASE WHEN winner = ta THEN 1 ELSE 0 END) AS BIGINT) AS wa,
             CAST(SUM(CASE WHEN winner = tb THEN 1 ELSE 0 END) AS BIGINT) AS wb
      FROM duel GROUP BY 1, 2
    ), sides AS (
      SELECT ta AS event_type, wa AS w, wb AS l FROM matchup
      UNION ALL
      SELECT tb, wb, wa FROM matchup
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN w > l THEN 1 ELSE 0 END) AS BIGINT) AS n_beats,
           CAST(SUM(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS n_losses,
           CAST(SUM(CASE WHEN w = l THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
           CAST(SUM(CASE WHEN w > l THEN 1 ELSE 0 END)
              - SUM(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS copeland,
           CAST(SUM(w) AS BIGINT) AS n_user_wins
    FROM sides GROUP BY event_type
    """,
    "Pairwise win-rate matrix + Copeland ranking — the aggregation "
    "under every LLM-judge preference leaderboard (lmsys-style "
    "head-to-head tallies) stated on deterministic data: within each "
    "user, every pair of event types duels on total integer value "
    "(ties to the lexicographically smaller, so the duel is a total "
    "function), matchups tally per-user wins, and each type's "
    "Copeland score is #opponents-beaten minus #opponents-lost-to. "
    "Shape: one (user,type) aggregate, a within-user self-join whose "
    "fan-out is bounded by the TYPE-PAIR count (not data size), a "
    "types^2-row matchup table, then a constant-size union — the "
    "whole reduction after the first aggregate is dimension-sized at "
    "any corpus scale.",
)
def eval_pairwise_winrate(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    s = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.sum(cents("value")).alias("v"))
    )
    a, b = s.alias("a"), s.alias("b")
    duel = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("ta"),
        F.col("b.event_type").alias("tb"),
        F.when(F.col("a.v") >= F.col("b.v"), F.col("a.event_type"))
        .otherwise(F.col("b.event_type"))
        .alias("winner"),
    )
    matchup = duel.groupBy("ta", "tb").agg(
        F.sum(F.when(F.col("winner") == F.col("ta"), 1).otherwise(0))
        .cast("long")
        .alias("wa"),
        F.sum(F.when(F.col("winner") == F.col("tb"), 1).otherwise(0))
        .cast("long")
        .alias("wb"),
    )
    sides = matchup.select(
        F.col("ta").alias("event_type"),
        F.col("wa").alias("w"),
        F.col("wb").alias("l"),
    ).unionAll(
        matchup.select(
            F.col("tb").alias("event_type"),
            F.col("wb").alias("w"),
            F.col("wa").alias("l"),
        )
    )
    return sides.groupBy("event_type").agg(
        F.sum(F.when(F.col("w") > F.col("l"), 1).otherwise(0))
        .cast("long")
        .alias("n_beats"),
        F.sum(F.when(F.col("w") < F.col("l"), 1).otherwise(0))
        .cast("long")
        .alias("n_losses"),
        F.sum(F.when(F.col("w") == F.col("l"), 1).otherwise(0))
        .cast("long")
        .alias("n_ties"),
        (
            F.sum(F.when(F.col("w") > F.col("l"), 1).otherwise(0))
            - F.sum(F.when(F.col("w") < F.col("l"), 1).otherwise(0))
        )
        .cast("long")
        .alias("copeland"),
        F.sum("w").cast("long").alias("n_user_wins"),
    )


# ---------------------------------------------------------------------------
# Theta/KMV sketch set intersection
# ---------------------------------------------------------------------------

_THETA_K = 64
_U32 = 4294967296
_H32_SPARK = "cast(conv(substring(md5({s}), 1, 8), 16, 10) AS BIGINT)"
_H32_DUCK = "(('0x' || substr(md5({s}), 1, 8))::BIGINT)"
_DAY_SPARK = "(ts div 1000) div 86400000000"
_DAY_DUCK = "epoch_us(ts) // 86400000000"


@register(
    "sketch_theta_intersect",
    f"""
    WITH elems AS (
      SELECT DISTINCT event_type,
             CAST(user_id AS VARCHAR) || ':' ||
             CAST({_DAY_DUCK} AS VARCHAR) AS e
      FROM events WHERE event_type IN ('click', 'purchase')
    ), hv AS (
      SELECT event_type, {_H32_DUCK.format(s='e')} AS h FROM elems
      GROUP BY 1, 2
    ), km AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_distinct
      FROM hv
    ), sk AS (
      SELECT event_type,
             list_sort(list(h) FILTER (rn <= {_THETA_K})) AS kmv,
             MAX(n_distinct) AS nd
      FROM km GROUP BY event_type
    ), ab AS (
      SELECT a.kmv AS ka, b.kmv AS kb,
             CASE WHEN a.nd < {_THETA_K} THEN {_U32}
                  ELSE a.kmv[{_THETA_K}] END AS theta_a,
             CASE WHEN b.nd < {_THETA_K} THEN {_U32}
                  ELSE b.kmv[{_THETA_K}] END AS theta_b
      FROM sk a, sk b
      WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    ), co AS (
      SELECT LEAST(theta_a, theta_b) AS theta,
             len(list_filter(list_intersect(ka, kb),
                 x -> x < LEAST(theta_a, theta_b))) AS n_common
      FROM ab
    ), ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersect FROM (
        SELECT e FROM elems WHERE event_type = 'click'
        INTERSECT
        SELECT e FROM elems WHERE event_type = 'purchase'
      )
    )
    SELECT CAST(co.theta AS BIGINT) AS theta,
           CAST(co.n_common AS BIGINT) AS n_common,
           CAST((co.n_common * {_U32}) // co.theta AS BIGINT)
             AS est_intersect,
           ex.exact_intersect
    FROM co, ex
    """,
    "Theta/KMV sketch INTERSECTION (Dasgupta et al. 2016, the "
    "DataSketches theta family): the click and purchase user-day sets "
    "are each summarized by their 64 smallest md5-32 hash values, "
    "theta = min of the two k-th minima (or the full domain when a "
    "set is smaller than k), and |A intersect B| is estimated as "
    "(retained common hashes below theta) * U / theta in pure integer "
    "arithmetic — set algebra on constant-size state, which is the "
    "entire point: at 100 TB the two sketches are mergeable bottom-k "
    "heaps (the sketch_kmv_distinct shape) and the intersection is a "
    "64-element list operation, never a join of the raw sets. The "
    "exact intersection rides along as the audit column, computed "
    "once at gate scale.",
)
def sketch_theta_intersect(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    elems = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_type",
            F.concat_ws(
                ":",
                F.col("user_id").cast("string"),
                F.expr(_DAY_SPARK).cast("string"),
            ).alias("e"),
        )
        .distinct()
    )
    hv = elems.select(
        "event_type", F.expr(_H32_SPARK.format(s="e")).alias("h")
    ).distinct()
    wk = W.partitionBy("event_type").orderBy("h")
    km = hv.select(
        "event_type",
        "h",
        F.row_number().over(wk).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("nd"),
    )
    sk = (
        km.groupBy("event_type")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("rn") <= _THETA_K, F.col("h")))
            ).alias("kmv"),
            F.max("nd").alias("nd"),
        )
    )
    a = sk.where(F.col("event_type") == "click").select(
        F.col("kmv").alias("ka"), F.col("nd").alias("na")
    )
    b = sk.where(F.col("event_type") == "purchase").select(
        F.col("kmv").alias("kb"), F.col("nd").alias("nb")
    )
    ab = a.crossJoin(F.broadcast(b)).select(
        "ka",
        "kb",
        F.expr(
            f"CASE WHEN na < {_THETA_K} THEN {_U32}L "
            f"ELSE element_at(ka, {_THETA_K}) END"
        ).alias("theta_a"),
        F.expr(
            f"CASE WHEN nb < {_THETA_K} THEN {_U32}L "
            f"ELSE element_at(kb, {_THETA_K}) END"
        ).alias("theta_b"),
    )
    co = ab.select(
        F.least("theta_a", "theta_b").alias("theta"),
        F.size(
            F.filter(
                F.array_intersect("ka", "kb"),
                lambda x: x < F.least(F.col("theta_a"), F.col("theta_b")),
            )
        )
        .cast("long")
        .alias("n_common"),
    )
    ex = (
        elems.where(F.col("event_type") == "click")
        .select("e")
        .intersect(elems.where(F.col("event_type") == "purchase").select("e"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersect"))
    )
    return co.crossJoin(F.broadcast(ex)).select(
        F.col("theta").cast("long").alias("theta"),
        "n_common",
        F.expr(f"CAST((n_common * {_U32}L) div theta AS BIGINT)").alias(
            "est_intersect"
        ),
        "exact_intersect",
    )


# ---------------------------------------------------------------------------
# Deterministic permutation test (two-sample, sign-flip)
# ---------------------------------------------------------------------------

_PERM_T = 64


@register(
    "ab_permutation_test",
    f"""
    WITH um AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS m
      FROM events GROUP BY user_id
    ), obs AS (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN m ELSE -m END)
                  AS BIGINT) AS obs_diff_c
      FROM um
    ), perm AS (
      SELECT p.t,
             CAST(SUM(CASE WHEN
               {_H32_DUCK.format(s="CAST(u.user_id AS VARCHAR) || ':' || CAST(p.t AS VARCHAR)")}
               % 2 = 0 THEN u.m ELSE -u.m END) AS BIGINT) AS d
      FROM um u, (SELECT unnest(range({_PERM_T})) AS t) p
      GROUP BY p.t
    )
    SELECT obs.obs_diff_c,
           CAST(SUM(CASE WHEN abs(perm.d) >= abs(obs.obs_diff_c)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
           CAST({_PERM_T} AS BIGINT) AS n_perm,
           CAST((1000000 * SUM(CASE WHEN abs(perm.d) >= abs(obs.obs_diff_c)
                               THEN 1 ELSE 0 END)) // {_PERM_T} AS BIGINT)
             AS p_ppm
    FROM perm, obs
    GROUP BY obs.obs_diff_c
    """,
    "Two-sample permutation test with DETERMINISTIC sign-flips: the "
    "observed statistic is the even-vs-odd-user difference of total "
    "purchase cents; each of 64 permutations reassigns every user by "
    "the parity of md5(user:t) and recomputes the difference; the "
    "p-value numerator counts permutations at least as extreme. "
    "Hash-derived permutations replace RNG state so the test is a "
    "pure function of the data (the sample_hash_split doctrine), and "
    "all statistics are integer cents. Shape: one user aggregate, "
    "then a 64-way constant fan-out whose per-group traffic collapses "
    "map-side (each task emits <= 64 partial sums) — at 100 TB the "
    "permutation pass costs one extra scan of the USER AGGREGATE, "
    "never of the raw events.",
)
def ab_permutation_test(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    um = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", cents("value")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("m")
        )
    )
    obs = um.agg(
        F.sum(
            F.when(F.col("user_id") % 2 == 0, F.col("m")).otherwise(-F.col("m"))
        )
        .cast("long")
        .alias("obs_diff_c")
    )
    ts = spark.range(0, _PERM_T).select(F.col("id").alias("t"))
    sign_h = _H32_SPARK.format(
        s="concat(cast(user_id as string), ':', cast(t as string))"
    )
    perm = (
        um.crossJoin(F.broadcast(ts))
        .select(
            "t",
            F.expr(
                f"CASE WHEN {sign_h} % 2 = 0 THEN m ELSE -m END"
            ).alias("sm"),
        )
        .groupBy("t")
        .agg(F.sum("sm").cast("long").alias("d"))
    )
    return (
        perm.crossJoin(F.broadcast(obs))
        .groupBy("obs_diff_c")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("d")) >= F.abs(F.col("obs_diff_c")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_ge"),
            F.lit(_PERM_T).cast("long").alias("n_perm"),
        )
        .select(
            "obs_diff_c",
            "n_ge",
            "n_perm",
            F.expr(f"CAST((1000000 * n_ge) div {_PERM_T} AS BIGINT)").alias(
                "p_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# k-truss of the mutual-kNN embedding graph
# ---------------------------------------------------------------------------

_TRUSS_K = 3
_TRUSS_ROUNDS = 6  # fixpoint at sf0.01/sf0.001 is round 2; monotone after


def _ktruss_oracle() -> str:
    """Unrolled replay of the fixed-round support peel. MATERIALIZED
    everywhere: each round references the previous edge set four times
    (two symmetrize arms + the support join + the filter)."""
    steps = []
    for i in range(1, _TRUSS_ROUNDS + 1):
        steps.append(f"""
    sym{i} AS MATERIALIZED (
      SELECT src, dst FROM e{i - 1}
      UNION ALL SELECT dst, src FROM e{i - 1}
    ),
    sup{i} AS MATERIALIZED (
      SELECT e.src, e.dst, COUNT(*) AS s
      FROM e{i - 1} e
      JOIN sym{i} x ON x.src = e.src
      JOIN sym{i} y ON y.src = e.dst AND y.dst = x.dst
      GROUP BY e.src, e.dst
    ),
    e{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{i - 1} e
      JOIN sup{i} s ON s.src = e.src AND s.dst = e.dst
      WHERE s.s >= {_TRUSS_K - 2}
    )""")
    R = _TRUSS_ROUNDS
    return f"""
    WITH {_mutual_cte_sql("e0", canonical=True)},
    {','.join(steps)},
    symf AS MATERIALIZED (
      SELECT src, dst FROM e{R} UNION ALL SELECT dst, src FROM e{R}
    )
    SELECT e.src, e.dst, CAST(COUNT(*) AS BIGINT) AS support
    FROM e{R} e
    JOIN symf x ON x.src = e.src
    JOIN symf y ON y.src = e.dst AND y.dst = x.dst
    GROUP BY e.src, e.dst
    """


@register(
    "graph_ktruss_mutual_knn",
    _ktruss_oracle(),
    "k-truss extraction (Cohen 2008) over the same mutual-kNN "
    "embedding graph as graph_kcore_mutual_knn, but peeling EDGES by "
    "triangle support instead of vertices by degree — the stricter "
    "cohesion mining that keeps only relationships embedded in at "
    "least k-2 triangles (3-truss: every surviving edge closes a "
    "triangle), the community-backbone filter of graph mining. "
    "Support is the wedge join of triangle counting, bounded by the "
    "kNN degree cap; fixed 6 peel rounds against a measured round-2 "
    "fixpoint, unrolled-CTE oracle with MATERIALIZED rounds (each "
    "round reads the previous edge set four times). Round 7: runs on "
    "the BOUNDED IVF-pivot mutual-kNN build (_mutual_knn_edges), "
    "never all-pairs — see graph_mutual_knn_recall_audit. Output is "
    "the surviving canonical edge list with fixpoint support.",
)
def graph_ktruss_mutual_knn(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.operators.graph import ktruss_peel

    canon = (
        _mutual_knn_edges(spark, sf_dir)
        .where(F.col("src") < F.col("dst"))
    )
    return ktruss_peel(canon, k=_TRUSS_K, rounds=_TRUSS_ROUNDS)


# ---------------------------------------------------------------------------
# Zone-map file-skipping audit under two layouts
# ---------------------------------------------------------------------------

_ZM_FILES = 64
# 1995 quarters as epoch-day [lo, hi) literals
_ZM_QUARTERS = [
    ("1995Q1", 9131, 9221),
    ("1995Q2", 9221, 9312),
    ("1995Q3", 9312, 9404),
    ("1995Q4", 9404, 9496),
]
_ZM_Q_VALUES = ", ".join(f"('{q}', {lo}, {hi})" for q, lo, hi in _ZM_QUARTERS)


def _zm_layout_files(li, label: str, order_cols: list[str], l1_cols, l2_cols):
    """Exact NTILE(_ZM_FILES) over a tie-free global order with no
    single-task pass over the data AND no data-sized broadcast: bucket
    each row by a TWO-LEVEL coarse monotone prefix of the sort key (a
    pure function of the data — never spark_partition_id(), whose
    numbering AQE may coalesce DIFFERENTLY for the two readers of the
    same exchange; the r12 100x run caught exactly that as a 65th
    file).

    Level 1 (``l1_cols``) is DIMENSION-SIZED by construction (ship
    days, or a very coarse orderkey prefix — thousands of buckets at
    any SF): its per-bucket counts cumsum into global offsets on one
    task and broadcast back, both bounded. Level 2 (``l2_cols``,
    refines level 1) keeps bucket SIZE constant (~4096 orders) so the
    per-bucket local sort never grows with SF; its within-level-1
    offsets come from a cumsum window PARTITIONED BY level 1 —
    distributed, never single-task — and attach to the data through a
    same-key join that reuses the row_number window's partitioning
    (no broadcast of the level-2 frame; ADVICE r12 measured 9.3 M
    sorted-layout buckets at sf10, which the old single-level scheme
    cumsum'd on one task and broadcast). Global rank = level-1 offset
    + within-level-1 level-2 offset + bucket-local row_number. The
    ntile bucket is then a pure-column formula of (rank, total): the
    first total % n files take total//n + 1 rows, the rest total//n."""
    src = li.select(
        "*",
        *(e.alias(f"_a{i}") for i, e in enumerate(l1_cols)),
        *(e.alias(f"_b{i}") for i, e in enumerate(l2_cols)),
    )
    acols = [f"_a{i}" for i in range(len(l1_cols))]
    bcols = [f"_b{i}" for i in range(len(l2_cols))]
    cnt2 = src.groupBy(*acols, *bcols).agg(
        F.count(F.lit(1)).cast("long").alias("_n2")
    )
    off2 = cnt2.select(
        *acols,
        *bcols,
        (
            F.sum("_n2").over(W.partitionBy(*acols).orderBy(*bcols))
            - F.col("_n2")
        ).alias("_off2"),
    )
    cnt1 = cnt2.groupBy(*acols).agg(F.sum("_n2").alias("_n1"))
    w_all = W.orderBy(*acols).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    off1 = cnt1.select(
        *acols,
        (F.sum("_n1").over(W.orderBy(*acols)) - F.col("_n1")).alias("_off1"),
        F.sum("_n1").over(w_all).alias("_total"),
    )
    off = off2.join(F.broadcast(off1), acols).select(
        *acols,
        *bcols,
        (F.col("_off1") + F.col("_off2")).alias("_off"),
        "_total",
    )
    rk = (
        F.row_number()
        .over(W.partitionBy(*acols, *bcols).orderBy(*order_cols))
        .cast("long")
        + F.col("_off")
    )
    base = (F.col("_total") / _ZM_FILES).cast("long")
    rem = F.col("_total") - base * _ZM_FILES
    cut = rem * (base + 1)
    file_id = (
        F.when(rk <= cut, ((rk - 1) / (base + 1)).cast("long") + 1)
        .otherwise(
            ((rk - 1 - cut) / F.greatest(base, F.lit(1))).cast("long")
            + rem
            + 1
        )
        .cast("int")
    )
    return src.join(off, acols + bcols).select(
        F.lit(label).alias("layout"),
        "day",
        file_id.alias("file_id"),
    )



@register(
    "zonemap_skip_stats",
    f"""
    WITH li AS (
      SELECT (epoch_us(l_shipdate) // 86400000000) AS day,
             l_orderkey, l_linenumber
      FROM lineitem
    ), files AS (
      SELECT 'ingest' AS layout, day,
             NTILE({_ZM_FILES}) OVER (ORDER BY l_orderkey, l_linenumber)
               AS file_id
      FROM li
      UNION ALL
      SELECT 'sorted', day,
             NTILE({_ZM_FILES}) OVER (ORDER BY day, l_orderkey, l_linenumber)
      FROM li
    ), zm AS (
      SELECT layout, file_id, MIN(day) AS zmin, MAX(day) AS zmax,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM files GROUP BY 1, 2
    ), preds(quarter, lo, hi) AS (VALUES {_ZM_Q_VALUES}),
    truth AS (
      SELECT p.quarter, CAST(COUNT(*) AS BIGINT) AS rows_matched
      FROM li JOIN preds p ON li.day >= p.lo AND li.day < p.hi
      GROUP BY 1
    )
    SELECT zm.layout, p.quarter,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN zm.zmax < p.lo OR zm.zmin >= p.hi
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
           CAST(SUM(CASE WHEN zm.zmax < p.lo OR zm.zmin >= p.hi
                    THEN 0 ELSE zm.n_rows END) AS BIGINT) AS rows_scanned,
           MAX(t.rows_matched) AS rows_matched
    FROM zm CROSS JOIN preds p
    JOIN truth t ON t.quarter = p.quarter
    GROUP BY 1, 2
    """,
    "Zone-map (min/max statistics) file-skipping audit — the "
    "layout-to-scan-cost bridge behind every Parquet/Iceberg/Delta "
    "pruning decision: lineitem is laid out into 64 equal files two "
    "ways (ingest order vs shipdate-sorted), each file keeps its "
    "shipdate min/max, and four quarter predicates report how many "
    "files each layout lets the reader SKIP and how many rows the "
    "surviving files force it to scan, against the true match count "
    "as the lower bound. The sorted layout's near-perfect pruning vs "
    "the ingest layout's near-zero is the measured argument for "
    "OPTIMIZE/sort-on-write at 100 TB. The file assignment is exact "
    "NTILE computed DISTRIBUTED over a TWO-LEVEL coarse monotone "
    "prefix of the sort key: level 1 (ship day / a very coarse "
    "orderkey range) is dimension-sized at any SF, so its cumsum-to-"
    "offsets runs one task and broadcasts bounded rows; level 2 "
    "(l_orderkey div 4096 — constant bucket SIZE, count scales with "
    "data) gets within-level-1 offsets from a cumsum window "
    "PARTITIONED by level 1 and attaches through a same-key join, "
    "never a broadcast (ADVICE r12: the single-level scheme put 9.3 M "
    "sorted-layout buckets through a single-task cumsum + broadcast "
    "at sf10). Global rank = level-1 offset + level-2 offset + "
    "bucket-local row_number (tie-free keys, so rank == NTILE's input "
    "order) — no single-task pass over the DATA anywhere, and no "
    "spark_partition_id() (AQE may coalesce two readers of one "
    "exchange differently, which the r12 100x run caught as a phantom "
    "65th file; buckets are a pure function of the data instead). The "
    "old global-NTILE-window form cost 190 s at 60 M rows, "
    "single-task. The audit over the resulting zone maps is "
    "dimension-sized: 64 files x 4 predicates.",
)
def zonemap_skip_stats(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import ts_micros

    raw = t(spark, sf_dir, "lineitem")
    sd_dtype = dict(raw.dtypes).get("l_shipdate", "")
    li = raw.select(
        ts_micros(sd_dtype, "l_shipdate").alias("_us"),
        "l_orderkey",
        "l_linenumber",
    ).select(
        F.expr("_us div 86400000000").alias("day"),
        "l_orderkey",
        "l_linenumber",
    )

    okey_coarse = F.expr("l_orderkey div 4096")
    # level-1 buckets are dimension-sized at any SF: ~2 k ship days, or
    # ~2 k coarse orderkey ranges per 8.6 B orders (div 4096 div 1024)
    okey_very_coarse = F.expr("l_orderkey div 4194304")

    files = _zm_layout_files(
        li,
        "ingest",
        ["l_orderkey", "l_linenumber"],
        [okey_very_coarse],
        [okey_coarse],
    ).unionAll(
        _zm_layout_files(
            li,
            "sorted",
            ["day", "l_orderkey", "l_linenumber"],
            [F.col("day")],
            [okey_coarse],
        )
    )
    zm = files.groupBy("layout", "file_id").agg(
        F.min("day").alias("zmin"),
        F.max("day").alias("zmax"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    preds = spark.createDataFrame(
        _ZM_QUARTERS, "quarter string, lo long, hi long"
    )
    truth = (
        li.join(
            F.broadcast(preds),
            (F.col("day") >= F.col("lo")) & (F.col("day") < F.col("hi")),
        )
        .groupBy("quarter")
        .agg(F.count(F.lit(1)).cast("long").alias("rows_matched"))
    )
    skipped = F.when(
        (F.col("zmax") < F.col("lo")) | (F.col("zmin") >= F.col("hi")), 1
    ).otherwise(0)
    return (
        zm.crossJoin(F.broadcast(preds))
        .join(F.broadcast(truth), "quarter")
        .groupBy("layout", "quarter")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(skipped).cast("long").alias("n_skipped"),
            F.sum(
                F.when(skipped == 1, 0).otherwise(F.col("n_rows"))
            )
            .cast("long")
            .alias("rows_scanned"),
            F.max("rows_matched").alias("rows_matched"),
        )
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching: padding-waste audit
# ---------------------------------------------------------------------------

_BATCH_B = 32


@register(
    "batch_padding_waste",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok
      FROM documents
    ), assigned AS (
      SELECT 'arrival' AS policy, n_tok,
             (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // {_BATCH_B}
               AS batch_id
      FROM d
      UNION ALL
      SELECT 'length_sorted', n_tok,
             (ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1)
               // {_BATCH_B}
      FROM d
    ), batches AS (
      SELECT policy, batch_id,
             CAST(COUNT(*) AS BIGINT) AS bsz,
             CAST(MAX(n_tok) AS BIGINT) AS max_tok,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tok
      FROM assigned GROUP BY 1, 2
    )
    SELECT policy,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(sum_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(bsz * max_tok - sum_tok) AS BIGINT) AS total_padding,
           CAST((1000000 * SUM(bsz * max_tok - sum_tok))
                // SUM(bsz * max_tok) AS BIGINT) AS pad_ppm
    FROM batches GROUP BY policy
    """,
    "Padding-waste audit of batch assembly — the training-efficiency "
    "decision every fixed-shape training loop makes: documents are "
    "grouped into batches of 32 under (a) arrival order and (b) "
    "length-sorted order, each batch pads to its longest member, and "
    "the audit reports total real tokens vs total padding tokens per "
    "policy in exact integers (pad_ppm = padding share of the padded "
    "volume). Length-bucketed batching's padding collapse vs arrival "
    "order is the measured justification for sorted bucketing in "
    "sequence-packing pipelines (the pack_sequences_linear sibling "
    "from the packing side). The global ROW_NUMBER simulates the "
    "batch assembly; production assembly range-partitions by length "
    "first — the waste accounting is identical.",
)
def batch_padding_waste(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(_toks_a()).cast("long").alias("n_tok")
    )
    w_arr = W.orderBy("doc_id")
    w_len = W.orderBy(F.desc("n_tok"), F.asc("doc_id"))
    assigned = d.select(
        F.lit("arrival").alias("policy"),
        "n_tok",
        ((F.row_number().over(w_arr) - 1) / _BATCH_B)
        .cast("long")
        .alias("batch_id"),
    ).unionAll(
        d.select(
            F.lit("length_sorted").alias("policy"),
            "n_tok",
            ((F.row_number().over(w_len) - 1) / _BATCH_B)
            .cast("long")
            .alias("batch_id"),
        )
    )
    batches = assigned.groupBy("policy", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("bsz"),
        F.max("n_tok").alias("max_tok"),
        F.sum("n_tok").alias("sum_tok"),
    )
    return batches.groupBy("policy").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum("sum_tok").cast("long").alias("total_tokens"),
        F.sum(F.col("bsz") * F.col("max_tok") - F.col("sum_tok"))
        .cast("long")
        .alias("total_padding"),
        F.expr(
            "CAST((1000000 * SUM(bsz * max_tok - sum_tok)) "
            "div SUM(bsz * max_tok) AS BIGINT)"
        ).alias("pad_ppm"),
    )


def _toks_a():
    return F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))


# ---------------------------------------------------------------------------
# Quality-filter ablation grid
# ---------------------------------------------------------------------------

_ABL_MIN_TOK = 30
_ABL_STOP_PCT = 5
_ABL_LANG = "en"
_STOPS_SQL = "('the','a','of','to','and','in','is')"


@register(
    "filter_ablation_grid",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok,
             CASE WHEN len({_TOKS_SQL}) >= {_ABL_MIN_TOK}
                  THEN 1 ELSE 0 END AS f_len,
             CASE WHEN 100 * len(list_filter({_TOKS_SQL},
                      x -> x IN {_STOPS_SQL}))
                      >= {_ABL_STOP_PCT} * len({_TOKS_SQL})
                  THEN 1 ELSE 0 END AS f_stop,
             CASE WHEN lang = '{_ABL_LANG}' THEN 1 ELSE 0 END AS f_lang
      FROM documents
    ), masks AS (SELECT unnest(range(8)) AS mask)
    SELECT m.mask,
           CAST(SUM(CASE WHEN ((m.mask & 1) = 0 OR d.f_len = 1)
                          AND ((m.mask & 2) = 0 OR d.f_stop = 1)
                          AND ((m.mask & 4) = 0 OR d.f_lang = 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
           CAST(SUM(CASE WHEN ((m.mask & 1) = 0 OR d.f_len = 1)
                          AND ((m.mask & 2) = 0 OR d.f_stop = 1)
                          AND ((m.mask & 4) = 0 OR d.f_lang = 1)
                    THEN d.n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM d CROSS JOIN masks m
    GROUP BY m.mask
    """,
    "Quality-filter ablation grid — the Gopher-rules interaction table "
    "(Rae et al. 2021 app. A): three document filters (length >= 30 "
    "tokens, stopword ratio >= 5%, lang == en) evaluated over ALL 8 "
    "on/off subsets at once, reporting surviving docs and kept tokens "
    "per subset — the table a curation team reads to see which filter "
    "does the work, which are redundant, and what each marginal "
    "filter costs in tokens. One scan computes the three per-doc "
    "flags; the 8-row mask spine is a broadcast constant fan-out "
    "whose per-group traffic collapses map-side — at 100 TB the grid "
    "costs one extra pass of counters, never 8 filtered scans.",
)
def filter_ablation_grid(spark, sf_dir):
    toks = _toks_a()
    stops = ["the", "a", "of", "to", "and", "in", "is"]
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(
            F.filter(
                toks,
                lambda x: x.isin(*stops),
            )
        )
        .cast("long")
        .alias("n_stop"),
    ).select(
        "doc_id",
        "n_tok",
        F.when(F.col("n_tok") >= _ABL_MIN_TOK, 1).otherwise(0).alias("f_len"),
        F.when(
            100 * F.col("n_stop") >= _ABL_STOP_PCT * F.col("n_tok"), 1
        )
        .otherwise(0)
        .alias("f_stop"),
        F.when(F.col("lang") == _ABL_LANG, 1).otherwise(0).alias("f_lang"),
    )
    masks = spark.range(0, 8).select(F.col("id").alias("mask"))
    passes = (
        ((F.col("mask").bitwiseAND(F.lit(1)) == 0) | (F.col("f_len") == 1))
        & ((F.col("mask").bitwiseAND(F.lit(2)) == 0) | (F.col("f_stop") == 1))
        & ((F.col("mask").bitwiseAND(F.lit(4)) == 0) | (F.col("f_lang") == 1))
    )
    return (
        d.crossJoin(F.broadcast(masks))
        .groupBy("mask")
        .agg(
            F.sum(F.when(passes, 1).otherwise(0))
            .cast("long")
            .alias("n_survivors"),
            F.sum(F.when(passes, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Watermark lateness audit
# ---------------------------------------------------------------------------

_WM_CANDIDATES_S = (0, 900, 1800, 3600)
_WM_WINDOW_S = 3600
_WM_MAX_DELAY_S = 7200
_WM_VALUES = ", ".join(
    f"(CAST({w} AS BIGINT))" for w in _WM_CANDIDATES_S
)


@register(
    "late_event_audit",
    f"""
    WITH e AS (
      SELECT event_id, epoch_ns(ts) AS tsn,
             epoch_ns(ts) + ({_H32_DUCK.format(s="CAST(event_id AS VARCHAR)")}
                % {_WM_MAX_DELAY_S}) * 1000000000 AS arrival
      FROM events
    ), r AS (
      SELECT event_id, tsn, arrival,
             ((tsn // {_WM_WINDOW_S}000000000) + 1)
               * {_WM_WINDOW_S}000000000 AS win_end,
             MAX(tsn) OVER (ORDER BY arrival, event_id
                            ROWS UNBOUNDED PRECEDING) AS seen_max
      FROM e
    ), wm(watermark_s) AS (VALUES {_WM_VALUES})
    SELECT wm.watermark_s,
           CAST(SUM(CASE WHEN r.seen_max - wm.watermark_s * 1000000000
                              > r.win_end THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN r.seen_max - wm.watermark_s * 1000000000
                              > r.win_end THEN 0 ELSE 1 END) AS BIGINT)
             AS n_kept,
           CAST((1000000 * SUM(CASE WHEN r.seen_max
                    - wm.watermark_s * 1000000000 > r.win_end
                    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
             AS dropped_ppm
    FROM r CROSS JOIN wm
    GROUP BY wm.watermark_s
    """,
    "Watermark lateness audit — the tuning table behind every "
    "Structured Streaming withWatermark() decision, computed batch-"
    "side with real watermark SEMANTICS: each event's arrival is a "
    "deterministic hash-derived delay (0..2h) after its event time, "
    "the stream watermark at any arrival is (max event time seen so "
    "far, in arrival order) minus the candidate delay, and an event "
    "is DROPPED when the watermark has already passed its 1-hour "
    "tumbling window's end — exactly the state-eviction rule the "
    "streaming engine applies. Four candidate watermarks are scored "
    "in one pass: running max over arrival order + a 4-row constant "
    "spine (dimension fan-out, map-side collapse). The global "
    "arrival-order window simulates the single logical stream; a "
    "production replay range-partitions by arrival time first.",
)
def late_event_audit(spark, sf_dir):
    e = t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").alias("tsn"),
        (
            F.col("ts")
            + F.expr(
                _H32_SPARK.format(s="cast(event_id as string)")
                + f" % {_WM_MAX_DELAY_S}"
            )
            * F.lit(1000000000)
        ).alias("arrival"),
    )
    wr = W.orderBy("arrival", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    r = e.select(
        "event_id",
        "tsn",
        F.expr(
            f"((tsn div {_WM_WINDOW_S}000000000) + 1) "
            f"* {_WM_WINDOW_S}000000000"
        ).alias("win_end"),
        F.max("tsn").over(wr).alias("seen_max"),
    )
    wm = spark.createDataFrame(
        [(w,) for w in _WM_CANDIDATES_S], "watermark_s long"
    )
    dropped = F.when(
        F.col("seen_max") - F.col("watermark_s") * 1000000000
        > F.col("win_end"),
        1,
    ).otherwise(0)
    return (
        r.crossJoin(F.broadcast(wm))
        .groupBy("watermark_s")
        .agg(
            F.sum(dropped).cast("long").alias("n_dropped"),
            F.sum(1 - dropped).cast("long").alias("n_kept"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN seen_max - watermark_s "
                "* 1000000000 > win_end THEN 1 ELSE 0 END)) "
                "div COUNT(*) AS BIGINT)"
            ).alias("dropped_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Fagin threshold-algorithm (TA) top-k audit
# ---------------------------------------------------------------------------

_TA_K = 10
_TA_DEPTH_CAP = 128


@register(
    "retrieval_threshold_algorithm",
    f"""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS sa,
             CAST(100 * len(list_distinct({_TOKS_SQL})) AS BIGINT) AS sb
      FROM documents
    ), ra AS (
      SELECT doc_id, sa, sb,
             ROW_NUMBER() OVER (ORDER BY sa DESC, doc_id) AS rka
      FROM d
    ), rb AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sb DESC, doc_id) AS rkb
      FROM d
    ), j AS (
      SELECT ra.doc_id, ra.sa + ra.sb AS total,
             LEAST(ra.rka, rb.rkb) AS mr
      FROM ra JOIN rb USING (doc_id)
    ), thr AS (
      SELECT a.rka AS dep, a.sa + b.sb AS thr
      FROM (SELECT ROW_NUMBER() OVER (ORDER BY sa DESC, doc_id) AS rka,
                   sa FROM d) a
      JOIN (SELECT ROW_NUMBER() OVER (ORDER BY sb DESC, doc_id) AS rkb,
                   sb FROM d) b ON a.rka = b.rkb
      WHERE a.rka <= {_TA_DEPTH_CAP}
    ), q AS (
      SELECT j.doc_id, j.total, j.mr,
             GREATEST(j.mr, COALESCE(
               (SELECT MIN(t.dep) FROM thr t WHERE t.thr <= j.total),
               {_TA_DEPTH_CAP + 1})) AS qd
      FROM j
    ), stopd AS (
      SELECT qd AS stop_depth FROM q
      ORDER BY qd, doc_id LIMIT 1 OFFSET {_TA_K - 1}
    ), touched AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_touched
      FROM q, stopd WHERE q.mr <= stopd.stop_depth
    ), topk AS (
      SELECT doc_id, total,
             ROW_NUMBER() OVER (ORDER BY total DESC, doc_id) AS rank_total
      FROM j
    )
    SELECT tk.doc_id, tk.total, CAST(tk.rank_total AS BIGINT) AS rank_total,
           CAST(s.stop_depth AS BIGINT) AS stop_depth, t.n_touched
    FROM topk tk, stopd s, touched t
    WHERE tk.rank_total <= {_TA_K}
    """,
    "Threshold-algorithm top-k audit (Fagin, Lotem & Naor 2001 — the "
    "instance-optimal rank-join behind multi-signal retrieval): two "
    "ranked lists (chars, 100x distinct tokens) are walked in "
    "parallel, the depth-d threshold is the sum of the two scores AT "
    "rank d, and TA halts at the first depth where k=10 seen "
    "documents already score above it. The audit derives the halt "
    "depth SET-BASED: each doc qualifies at max(its min rank, the "
    "first depth whose threshold its total clears — threshold is "
    "monotone nonincreasing so that crossing is a min over a capped "
    "128-row broadcast), and the k-th smallest qualify-depth IS the "
    "stop depth. Output: the exact top-k with the stop depth and how "
    "few documents TA touched (~20 of 500 at gate scale) — the "
    "measured case for early-termination top-k over full scans when "
    "lists are precomputed per-signal at 100 TB.",
)
def retrieval_threshold_algorithm(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("sa"),
        (100 * F.size(F.array_distinct(_toks_a()))).cast("long").alias("sb"),
    )
    wa = W.orderBy(F.desc("sa"), F.asc("doc_id"))
    wb = W.orderBy(F.desc("sb"), F.asc("doc_id"))
    ranked = d.select(
        "doc_id",
        "sa",
        "sb",
        F.row_number().over(wa).alias("rka"),
        F.row_number().over(wb).alias("rkb"),
    )
    j = ranked.select(
        "doc_id",
        (F.col("sa") + F.col("sb")).alias("total"),
        F.least("rka", "rkb").alias("mr"),
    )
    thr = (
        ranked.select(F.col("rka").alias("dep"), "sa")
        .join(
            ranked.select(F.col("rkb").alias("dep"), "sb"),
            "dep",
        )
        .where(F.col("dep") <= _TA_DEPTH_CAP)
        .select("dep", (F.col("sa") + F.col("sb")).alias("thr"))
    )
    tmin = (
        j.join(F.broadcast(thr), F.col("thr") <= F.col("total"), "left")
        .groupBy("doc_id", "total", "mr")
        .agg(F.min("dep").alias("t_first"))
    )
    q = tmin.select(
        "doc_id",
        "total",
        "mr",
        F.greatest(
            F.col("mr"),
            F.coalesce(F.col("t_first"), F.lit(_TA_DEPTH_CAP + 1)),
        ).alias("qd"),
    )
    wq = W.orderBy(F.asc("qd"), F.asc("doc_id"))
    stopd = (
        q.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") == _TA_K)
        .select(F.col("qd").cast("long").alias("stop_depth"))
    )
    touched = (
        q.crossJoin(F.broadcast(stopd))
        .where(F.col("mr") <= F.col("stop_depth"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_touched"))
    )
    wt = W.orderBy(F.desc("total"), F.asc("doc_id"))
    topk = (
        j.withColumn("rank_total", F.row_number().over(wt))
        .where(F.col("rank_total") <= _TA_K)
        .select("doc_id", "total", F.col("rank_total").cast("long").alias("rank_total"))
    )
    return topk.crossJoin(F.broadcast(stopd)).crossJoin(F.broadcast(touched))


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) operator
# ---------------------------------------------------------------------------


@register(
    "skyline_pareto_frontier",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_distinct({_TOKS_SQL})) AS BIGINT) AS quality,
             CAST(n_chars AS BIGINT) AS size
      FROM documents
    )
    SELECT a.doc_id, a.quality, a.size
    FROM d a
    WHERE NOT EXISTS (
      SELECT 1 FROM d b
      WHERE b.quality >= a.quality AND b.size >= a.size
        AND (b.quality > a.quality OR b.size > a.size)
    )
    """,
    "Skyline / Pareto-frontier operator (Borzsonyi, Kossmann & "
    "Stocker 2001): the documents no other document dominates on "
    "(distinct-token quality, char size) — the preference-query "
    "primitive behind 'best tradeoff' corpus picks (longest AND "
    "richest docs, cost/quality frontiers). The Spark plan is the "
    "LINEAR skyline algorithm, not the quadratic definition: one "
    "per-quality max-size aggregate, one running max over strictly "
    "higher quality levels (dimension-sized window), and a doc is on "
    "the frontier iff it holds its quality level's max size and "
    "beats every higher level's best — O(n) + a vocab-sized sort vs "
    "the oracle's NOT EXISTS self-join, which independently replays "
    "the DEFINITION. Ties kept on both sides: equal (quality, size) "
    "pairs do not dominate each other.",
)
def skyline_pareto_frontier(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_distinct(_toks_a())).cast("long").alias("quality"),
        F.col("n_chars").cast("long").alias("size"),
    )
    perq = d.groupBy("quality").agg(F.max("size").alias("mq"))
    wq = W.orderBy(F.desc("quality")).rowsBetween(
        W.unboundedPreceding, -1
    )
    lvl = perq.select(
        "quality",
        "mq",
        F.max("mq").over(wq).alias("best_higher"),
    )
    return (
        d.join(F.broadcast(lvl), "quality")
        .where(
            (F.col("size") == F.col("mq"))
            & (
                F.col("best_higher").isNull()
                | (F.col("best_higher") < F.col("size"))
            )
        )
        .select("doc_id", "quality", "size")
    )


# ---------------------------------------------------------------------------
# Holt linear-trend fold (double exponential smoothing, integer state)
# ---------------------------------------------------------------------------


@register(
    "holt_linear_fold",
    """
    WITH RECURSIVE x AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
    ), r AS (
      SELECT user_id, rn, v AS l, CAST(0 AS BIGINT) AS b,
             v AS l_prev
      FROM x WHERE rn = 1
      UNION ALL
      -- two carried registers; FLOOR spelled explicitly (DuckDB integer
      -- // truncates toward zero, the kernel floors; trend deltas DO go
      -- negative). Operands stay far below 2^53: double FLOOR is exact.
      SELECT x.user_id, x.rn,
             CAST(FLOOR((x.v + r.l + r.b) / 2.0) AS BIGINT),
             CAST(FLOOR((CAST(FLOOR((x.v + r.l + r.b) / 2.0) AS BIGINT)
                         - r.l + r.b) / 2.0) AS BIGINT),
             r.l
      FROM r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1
    ), n AS (
      SELECT user_id, CAST(MAX(rn) AS BIGINT) AS n_events
      FROM x GROUP BY user_id
    )
    SELECT n.user_id, n.n_events, r.l AS level_c, r.b AS trend_c,
           r.l + r.b AS forecast_c
    FROM n JOIN r ON r.user_id = n.user_id AND r.rn = n.n_events
    """,
    "Holt linear-trend fold (double exponential smoothing, alpha = "
    "beta = 1/2) over each user's time-ordered cent values — TWO "
    "carried integer registers per key where ewma_user_value carries "
    "one: l_t = floor((v_t + l_(t-1) + b_(t-1))/2), b_t = "
    "floor((l_t - l_(t-1) + b_(t-1))/2), forecast = l_n + b_n; the "
    "one-step-ahead demand forecast every per-entity capacity model "
    "runs. Same Arrow doctrine as the EWMA kernel: ONE shuffle on "
    "user_id + sortWithinPartitions, a single segmented-fold "
    "mapInPandas kernel carrying state across batch boundaries, "
    "Python floor-division matched by explicit FLOOR in the "
    "recursive-CTE oracle (trend deltas go negative, where truncation "
    "would diverge). State is O(keys-per-partition) x 3 ints; nothing "
    "lands on the driver.",
)
def holt_linear_fold(spark, sf_dir):
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from youtube_trending_data_pipeline_spark.catalog import cents

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("ts_us"),
        cents("value").alias("v"),
    )
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("level_c", LongType()),
            StructField("trend_c", LongType()),
            StructField("forecast_c", LongType()),
        ]
    )

    def fold(batches):
        # state: user -> [n, level, trend]; the ewma_user_value segmented
        # fold with a second carried register (see that kernel's notes).
        state: dict[int, list[int]] = {}
        for pdf in batches:
            u = pdf["user_id"].to_numpy()
            if not len(u):
                continue
            v = pdf["v"].to_numpy()
            cuts = np.flatnonzero(u[1:] != u[:-1]) + 1
            starts = np.concatenate(([0], cuts)).tolist()
            ends = np.concatenate((cuts, [len(u)])).tolist()
            for a, bnd in zip(starts, ends):
                run = v[a:bnd].tolist()
                s = state.get(int(u[a]))
                if s is None:
                    lv, tr = run[0], 0
                    rest = run[1:]
                    state[int(u[a])] = s = [bnd - a, lv, tr]
                else:
                    lv, tr = s[1], s[2]
                    rest = run
                    s[0] += bnd - a
                for x in rest:
                    nl = (x + lv + tr) // 2
                    tr = (nl - lv + tr) // 2
                    lv = nl
                s[1], s[2] = lv, tr
        if state:
            yield pd.DataFrame(
                {
                    "user_id": list(state.keys()),
                    "n_events": [s[0] for s in state.values()],
                    "level_c": [s[1] for s in state.values()],
                    "trend_c": [s[2] for s in state.values()],
                    "forecast_c": [s[1] + s[2] for s in state.values()],
                }
            )

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "ts_us", "event_id")
        .mapInPandas(fold, schema=schema)
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance: delta application vs recompute
# ---------------------------------------------------------------------------

_IVM_SPLIT_DAYS = 7          # base = first week of the corpus
_IVM_DELTA_DAYS = 2          # delta batch = next two days of inserts
_IVM_RETRACT_MOD = 37        # base rows with event_id % 37 == 0 retract


@register(
    "ivm_delta_aggregate",
    f"""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS v,
             epoch_us(ts) // 86400000000 AS day
      FROM events
    ), b AS (SELECT MIN(day) AS d0 FROM e),
    base AS (
      SELECT e.* FROM e, b WHERE e.day < b.d0 + {_IVM_SPLIT_DAYS}
    ), inserts AS (
      SELECT e.* FROM e, b
      WHERE e.day >= b.d0 + {_IVM_SPLIT_DAYS}
        AND e.day < b.d0 + {_IVM_SPLIT_DAYS + _IVM_DELTA_DAYS}
    ), retracts AS (
      SELECT * FROM base WHERE event_id % {_IVM_RETRACT_MOD} = 0
    ), signed_delta AS (
      SELECT event_type, v, CAST(1 AS BIGINT) AS mult FROM inserts
      UNION ALL
      SELECT event_type, v, CAST(-1 AS BIGINT) FROM retracts
    ), view0 AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s
      FROM base GROUP BY 1
    ), delta AS (
      SELECT event_type, CAST(SUM(mult) AS BIGINT) AS dn,
             CAST(SUM(mult * v) AS BIGINT) AS ds
      FROM signed_delta GROUP BY 1
    ), maintained AS (
      SELECT COALESCE(v.event_type, d.event_type) AS event_type,
             COALESCE(v.n, 0) + COALESCE(d.dn, 0) AS mn,
             COALESCE(v.s, 0) + COALESCE(d.ds, 0) AS ms
      FROM view0 v FULL OUTER JOIN delta d USING (event_type)
    ), recomputed AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS rn,
             CAST(SUM(v) AS BIGINT) AS rs
      FROM (
        SELECT * FROM base WHERE event_id % {_IVM_RETRACT_MOD} <> 0
        UNION ALL SELECT * FROM inserts
      ) GROUP BY 1
    )
    SELECT m.event_type,
           CAST(m.mn AS BIGINT) AS maintained_n,
           r.rn AS recomputed_n,
           CAST(m.ms AS BIGINT) AS maintained_sum,
           r.rs AS recomputed_sum,
           CAST(CASE WHEN m.mn = r.rn AND m.ms = r.rs
                THEN 1 ELSE 0 END AS BIGINT) AS consistent
    FROM maintained m JOIN recomputed r USING (event_type)
    """,
    "Incremental view maintenance audit — the delta rule every "
    "foreachBatch upsert and materialized-view engine depends on, "
    "PROVEN against recompute in one query: a per-type count/sum view "
    "over the first week of events is maintained by applying a signed "
    "multiplicity delta (next-two-days inserts at +1, hash-chosen "
    "base retractions at -1) and must equal the from-scratch "
    "aggregate over (base minus retractions) union inserts. "
    "Count/sum are self-maintainable, so the maintained path touches "
    "ONLY the delta — at 100 TB that is the difference between "
    "re-aggregating the lake and aggregating a day's partition; the "
    "consistency flag makes the multiset algebra auditable. All "
    "integer cents; full-outer delta merge handles types that appear "
    "only in the delta.",
)
def ivm_delta_aggregate(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    e = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        cents("value").alias("v"),
        F.expr("(ts div 1000) div 86400000000").alias("day"),
    )
    b = e.agg(F.min("day").alias("d0"))
    e = e.crossJoin(F.broadcast(b))
    base = e.where(F.col("day") < F.col("d0") + _IVM_SPLIT_DAYS)
    inserts = e.where(
        (F.col("day") >= F.col("d0") + _IVM_SPLIT_DAYS)
        & (F.col("day") < F.col("d0") + _IVM_SPLIT_DAYS + _IVM_DELTA_DAYS)
    )
    retracts = base.where(F.col("event_id") % _IVM_RETRACT_MOD == 0)
    signed_delta = inserts.select(
        "event_type", "v", F.lit(1).cast("long").alias("mult")
    ).unionAll(
        retracts.select(
            "event_type", "v", F.lit(-1).cast("long").alias("mult")
        )
    )
    view0 = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
    )
    delta = signed_delta.groupBy("event_type").agg(
        F.sum("mult").cast("long").alias("dn"),
        F.sum(F.col("mult") * F.col("v")).cast("long").alias("ds"),
    )
    maintained = (
        view0.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("long")
            .alias("maintained_n"),
            (F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0)))
            .cast("long")
            .alias("maintained_sum"),
        )
    )
    recomputed = (
        base.where(F.col("event_id") % _IVM_RETRACT_MOD != 0)
        .select("event_type", "v")
        .unionAll(inserts.select("event_type", "v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("recomputed_n"),
            F.sum("v").cast("long").alias("recomputed_sum"),
        )
    )
    return maintained.join(recomputed, "event_type").select(
        "event_type",
        "maintained_n",
        "recomputed_n",
        "maintained_sum",
        "recomputed_sum",
        F.when(
            (F.col("maintained_n") == F.col("recomputed_n"))
            & (F.col("maintained_sum") == F.col("recomputed_sum")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("consistent"),
    )


# ---------------------------------------------------------------------------
# Exact median by two-pass bucket selection (no global sort)
# ---------------------------------------------------------------------------

_MED_BUCKET_C = 10000  # 100.00-unit buckets


@register(
    "exact_median_twopass",
    f"""
    WITH x AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST((COUNT(*) + 1) // 2 AS BIGINT) AS k
      FROM x
    ), bkt AS (
      SELECT v // {_MED_BUCKET_C} AS b, CAST(COUNT(*) AS BIGINT) AS c
      FROM x GROUP BY 1
    ), cum AS (
      SELECT b, c,
             SUM(c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS run
      FROM bkt
    ), target AS (
      SELECT cum.b AS tb, cum.c AS bucket_rows,
             cum.run - cum.c AS before_cnt, n.n, n.k
      FROM cum, n
      WHERE cum.run >= n.k AND cum.run - cum.c < n.k
    ), sel AS (
      SELECT x.v, ROW_NUMBER() OVER (ORDER BY x.v) AS rno
      FROM x, target WHERE x.v // {_MED_BUCKET_C} = target.tb
    )
    SELECT t.n, t.k, t.tb AS bucket_id, t.bucket_rows, s.v AS median_c
    FROM target t JOIN sel s ON s.rno = t.k - t.before_cnt
    """,
    "Exact median WITHOUT a global sort — two-pass bucket selection, "
    "the scalable order-statistic algorithm (Blum et al. selection "
    "by partition counts): pass 1 is one hash aggregate of 100.00-"
    "unit bucket counts whose running sum locates the bucket holding "
    "the k-th value (k = (N+1)/2), pass 2 sorts ONLY that bucket "
    "(~N/buckets rows) and offsets to the exact answer. At 100 TB "
    "a global sort of the value column is the thing you cannot "
    "afford; two counting passes + one bucket-local sort is the "
    "shape percentile services actually run. Output keeps the "
    "audit trail (N, k, chosen bucket, rows the second pass "
    "touched); the oracle replays the same selection by definition "
    "(ORDER BY ... OFFSET).",
)
def exact_median_twopass(spark, sf_dir):
    from youtube_trending_data_pipeline_spark.catalog import cents

    x = t(spark, sf_dir, "lineitem").select(
        cents("l_extendedprice").alias("v")
    )
    n = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST((COUNT(*) + 1) div 2 AS BIGINT)").alias("k"),
    )
    bkt = (
        x.select(F.expr(f"v div {_MED_BUCKET_C}").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wc = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    cum = bkt.select(
        "b", "c", F.sum("c").over(wc).alias("run")
    )
    target = (
        cum.crossJoin(F.broadcast(n))
        .where(
            (F.col("run") >= F.col("k"))
            & (F.col("run") - F.col("c") < F.col("k"))
        )
        .select(
            F.col("b").alias("tb"),
            F.col("c").alias("bucket_rows"),
            (F.col("run") - F.col("c")).alias("before_cnt"),
            "n",
            "k",
        )
    )
    in_bucket = x.join(
        F.broadcast(target),
        F.expr(f"v div {_MED_BUCKET_C}") == F.col("tb"),
    )
    wv = W.orderBy("v")
    median = (
        in_bucket.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == F.col("k") - F.col("before_cnt"))
        .select(
            "n",
            "k",
            F.col("tb").alias("bucket_id"),
            "bucket_rows",
            F.col("v").alias("median_c"),
        )
    )
    return median


# ---------------------------------------------------------------------------
# Join-key skew diagnosis report
# ---------------------------------------------------------------------------


@register(
    "skew_diagnosis_report",
    """
    WITH f AS (
      SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ), o AS (
      SELECT key, c,
             ROW_NUMBER() OVER (ORDER BY c, key) AS rn,
             COUNT(*) OVER () AS nk,
             SUM(c) OVER () AS total
      FROM f
    )
    SELECT CAST(MAX(nk) AS BIGINT) AS n_keys,
           CAST(MAX(total) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_freq,
           CAST(MAX(CASE WHEN rn = (nk + 1) // 2 THEN c END) AS BIGINT)
             AS p50_freq,
           CAST(MAX(CASE WHEN rn = nk - (nk // 100) THEN c END) AS BIGINT)
             AS p99_freq,
           CAST((1000000 * MAX(c) * MAX(nk)) // MAX(total) AS BIGINT)
             AS imbalance_ppm,
           CAST(MAX(CASE WHEN c = (SELECT MAX(c) FROM f)
                    THEN key END) AS BIGINT) AS heaviest_key
    FROM o
    """,
    "Join-key skew diagnosis — the report you read BEFORE choosing "
    "j10_salted_skew_join's salt factor or trusting AQE skew "
    "handling: the lineitem supplier-key frequency table reduced to "
    "key count, row count, max/p50/p99 per-key frequency (order "
    "statistics over the KEY table, never the fact table), the "
    "max-over-mean imbalance in ppm (straggler factor: the slowest "
    "reducer's load relative to perfect balance), and the heaviest "
    "key itself (max frequency, largest key on ties). One hash "
    "aggregate + one key-table window: the diagnosis costs a "
    "key-cardinality pass regardless of fact-table size.",
)
def skew_diagnosis_report(spark, sf_dir):
    f = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wo = W.orderBy("c", "key")
    o = f.select(
        "key",
        "c",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nk"),
        F.sum("c").over(W.partitionBy()).alias("total"),
        F.max("c").over(W.partitionBy()).alias("mx"),
    )
    return o.agg(
        F.max("nk").cast("long").alias("n_keys"),
        F.max("total").cast("long").alias("n_rows"),
        F.max("c").cast("long").alias("max_freq"),
        F.max(
            F.when(F.col("rn") == F.expr("(nk + 1) div 2"), F.col("c"))
        )
        .cast("long")
        .alias("p50_freq"),
        F.max(
            F.when(F.col("rn") == F.expr("nk - (nk div 100)"), F.col("c"))
        )
        .cast("long")
        .alias("p99_freq"),
        F.expr(
            "CAST((1000000 * MAX(c) * MAX(nk)) div MAX(total) AS BIGINT)"
        ).alias("imbalance_ppm"),
        F.max(F.when(F.col("c") == F.col("mx"), F.col("key")))
        .cast("long")
        .alias("heaviest_key"),
    )


# ---------------------------------------------------------------------------
# Consistent-hash ring: shard rebalance audit
# ---------------------------------------------------------------------------

_CH_SHARDS_BEFORE = 8
_CH_VNODES = 32


def _ch_ring_sql(n_shards: int) -> str:
    h = _H32_DUCK.format(
        s="'shard' || CAST(s.s AS VARCHAR) || ':' || CAST(v.v AS VARCHAR)"
    )
    return f"""
      SELECT {h} AS h, MIN(s.s) AS shard
      FROM (SELECT unnest(range({n_shards})) AS s) s,
           (SELECT unnest(range({_CH_VNODES})) AS v) v
      GROUP BY 1
    """


def _ch_assign_sql(ring: str) -> str:
    return f"""
      SELECT d.doc_id,
             COALESCE(
               MIN(CASE WHEN r.h >= d.pos THEN r.h END),
               MIN(r.h)) AS chosen_h
      FROM docs d CROSS JOIN ({ring}) r
      GROUP BY d.doc_id
    """


@register(
    "consistent_hash_rebalance",
    f"""
    WITH docs AS (
      SELECT doc_id,
             {_H32_DUCK.format(s="CAST(doc_id AS VARCHAR)")} AS pos
      FROM documents
    ), ring_a AS ({_ch_ring_sql(_CH_SHARDS_BEFORE)}),
    ring_b AS ({_ch_ring_sql(_CH_SHARDS_BEFORE + 1)}),
    ch_a AS ({_ch_assign_sql('SELECT * FROM ring_a')}),
    ch_b AS ({_ch_assign_sql('SELECT * FROM ring_b')}),
    consistent AS (
      SELECT 'consistent' AS strategy,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN ra.shard <> rb.shard THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_moved
      FROM ch_a a JOIN ch_b b USING (doc_id)
      JOIN ring_a ra ON ra.h = a.chosen_h
      JOIN ring_b rb ON rb.h = b.chosen_h
    ), naive AS (
      SELECT 'mod' AS strategy,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN pos % {_CH_SHARDS_BEFORE}
                            <> pos % {_CH_SHARDS_BEFORE + 1}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
      FROM docs
    ), u AS (
      SELECT * FROM consistent UNION ALL SELECT * FROM naive
    )
    SELECT strategy, n_docs, n_moved,
           CAST((1000000 * n_moved) // n_docs AS BIGINT) AS moved_ppm
    FROM u
    """,
    "Consistent-hash ring rebalance audit (Karger et al. 1997): "
    "documents are placed on a 32-vnode-per-shard md5 ring, a ninth "
    "shard is added, and the audit reports what fraction of documents "
    "MOVE under ring assignment (~1/9) versus naive modulo sharding "
    "(~8/9) — the measured justification for ring placement in every "
    "shuffle-stable store and streaming-state assignment. Ring "
    "assignment ('first vnode clockwise, wrap to ring minimum') is a "
    "conditional MIN over the 288-row broadcast ring — dimension "
    "fan-out, map-side collapse, no row ever leaves its partition; "
    "vnode hash collisions are canonicalized to the smallest shard "
    "so both engines resolve ties identically.",
)
def consistent_hash_rebalance(spark, sf_dir):
    def ring(n_shards):
        s = spark.range(0, n_shards).select(F.col("id").alias("s"))
        v = spark.range(0, _CH_VNODES).select(F.col("id").alias("v"))
        h = _H32_SPARK.format(
            s="concat('shard', cast(s as string), ':', cast(v as string))"
        )
        return (
            s.crossJoin(v)
            .select(F.expr(h).alias("h"), "s")
            .groupBy("h")
            .agg(F.min("s").alias("shard"))
        )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_H32_SPARK.format(s="cast(doc_id as string)")).alias("pos"),
    )

    def assign(ring_df):
        return (
            docs.crossJoin(F.broadcast(ring_df))
            .groupBy("doc_id", "pos")
            .agg(
                F.coalesce(
                    F.min(
                        F.when(F.col("h") >= F.col("pos"), F.col("h"))
                    ),
                    F.min("h"),
                ).alias("chosen_h")
            )
        )

    ring_a, ring_b = ring(_CH_SHARDS_BEFORE), ring(_CH_SHARDS_BEFORE + 1)
    a = assign(ring_a).join(
        F.broadcast(ring_a.withColumnRenamed("shard", "shard_a")),
        F.col("chosen_h") == F.col("h"),
    ).select("doc_id", "pos", "shard_a")
    b = assign(ring_b).join(
        F.broadcast(ring_b.withColumnRenamed("shard", "shard_b")),
        F.col("chosen_h") == F.col("h"),
    ).select(F.col("doc_id").alias("doc_id_b"), "shard_b")
    consistent = (
        a.join(b, a["doc_id"] == b["doc_id_b"])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("shard_a") != F.col("shard_b"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_moved"),
        )
        .select(F.lit("consistent").alias("strategy"), "n_docs", "n_moved")
    )
    naive = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(
                F.col("pos") % _CH_SHARDS_BEFORE
                != F.col("pos") % (_CH_SHARDS_BEFORE + 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_moved"),
    ).select(F.lit("mod").alias("strategy"), "n_docs", "n_moved")
    return consistent.unionAll(naive).select(
        "strategy",
        "n_docs",
        "n_moved",
        F.expr("CAST((1000000 * n_moved) div n_docs AS BIGINT)").alias(
            "moved_ppm"
        ),
    )
