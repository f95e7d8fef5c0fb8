"""Exact integer linear algebra for the grouped vector kernels.

Every grouped vector kernel is one ``applyInArrow`` adapter over these
helpers:

* ``_split_group`` decodes an Arrow group into id-sorted seeds and
  probers (``_list_matrix`` reads the list column off its flat values
  buffer);
* ``_exact_int_matmul`` / ``_exact_int_matmul_blocks`` score them, and
  ``_exact_sq_l2`` turns the dots into squared L2 distances;
* ``_rowwise_topk`` ranks each row, and ``_list_column`` rebuilds a
  replicated vector output column.

Callers: the mutual-kNN pivot ranking and cell scoring
(``catalog_analysis._pivot_rank_arrow`` / ``_knn_cell_arrow``), semantic
dedup (``operators/dedup.py``: ``_semdedup_assign_arrow``,
``_semdedup_cell_arrow``), the IVF/PQ family (``operators/similarity.py``:
``_cell_assign_arrow``, ``_pq_encode_arrow``) and integer Lloyd
(``catalog_analysis_series._lloyd_assign_arrow``).

The doctrine (SCALING.md §4): within-block quadratic scoring runs as
ONE float64-BLAS matmul whose results are still EXACT integers under
the guarded ``bound² · dim ≤ 2^53`` precondition — numpy's int64 ``@``
has no BLAS kernel and is ~100x slower, and interpreted per-element
closures (Spark HOFs or Python loops) are orders of magnitude behind
both. ``_exact_int_matmul_blocks`` holds the package's only check of
that precondition.
"""

from __future__ import annotations

__all__ = [
    "_SELF_MASK",
    "_exact_int_matmul",
    "_exact_int_matmul_blocks",
    "_exact_sq_l2",
    "_list_column",
    "_list_matrix",
    "_list_offsets_i32",
    "_rowwise_topk",
    "_split_group",
]


def _list_matrix(col, n_rows):
    """Arrow list<int> column -> (n_rows, dim) int64 matrix read
    straight off the flattened values buffer — no per-row Python list
    objects (the retired applyInPandas object-column path materialized
    one ndarray per row and re-copied them into a matrix; measured r13:
    the conversion dominated the 100x mutual-kNN candidate build).

    Validates that every list has the SAME length (r14, ADVICE r13):
    the flat reshape would silently misalign a ragged group whose
    total element count happens to divide n_rows (the retired pandas
    path failed loudly as an object array), and an
    all-empty group would raise an opaque reshape error.

    A NULL element inside a list raises too: numpy would read it as NaN
    and cast it to an arbitrary int64 (INT64_MIN in practice), silently
    corrupting every dot product it enters."""
    import numpy as np

    arr = col.combine_chunks()
    values = arr.flatten()
    if values.null_count:
        raise ValueError(
            f"vector group holds {values.null_count} NULL element(s) "
            "inside its lists — NULL vector elements must be filtered "
            "or filled upstream"
        )
    flat = values.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    if n_rows == 0:
        return flat.reshape(0, 0)
    lengths = arr.value_lengths().fill_null(0).to_numpy(
        zero_copy_only=False
    )
    lo, hi = int(lengths.min()), int(lengths.max())
    if lo != hi or hi == 0:
        raise ValueError(
            "vector group is ragged or empty: list lengths span "
            f"[{lo}, {hi}] over {n_rows} rows — every vector must "
            "share one nonzero dimension (NULL/short/empty vectors "
            "must be filtered or padded upstream)"
        )
    return flat.reshape(n_rows, hi)


def _list_offsets_i32(n_rows, dim):
    """int32 Arrow list offsets [0, dim, 2*dim, ...] for n_rows
    fixed-width lists, with a LOUD overflow guard (r14, ADVICE r13):
    the total value count must stay under 2^31 for a non-large Arrow
    ListArray, and an int32 np.arange would wrap silently into
    negative offsets (ArrowInvalid far from the cause) once
    n_rows * dim crosses it."""
    import numpy as np

    total = int(n_rows) * int(dim)
    if total >= 1 << 31:
        raise ValueError(
            f"replicated vector output of {n_rows} rows x {dim} dims "
            f"= {total} values exceeds the 2^31-1 Arrow ListArray "
            "offset ceiling for one group; raise the salt/cell count "
            "so groups shrink (each group's output must stay under "
            "2^31 list elements)"
        )
    # built in int64, then narrowed: an int32 arange stop of
    # (n_rows + 1) * dim can itself overflow just under the guard
    return np.arange(0, total + dim, dim, dtype=np.int64).astype(np.int32)

# Masks self-pairs so they sort LAST under (dot DESC, id ASC): smaller
# than any legitimate dot (those are >= -6.4e9) yet small enough in
# magnitude that _rowwise_topk's key encoding never overflows (an
# int64.min // 2 sentinel would).
_SELF_MASK = -(1 << 40)


def _rowwise_topk(D, ids, k):
    """Per-row top-k COLUMN indices of D by (value DESC, ids ASC),
    fully vectorized — the per-row ``np.lexsort`` loop this replaces
    was the sf1 bottleneck of the exact kNN kernel (the 20 k-row loop
    cost ~6 min; this is two argpartition/argsort passes).

    The composite order is encoded into one int64 key per cell:
    ``value * M - rank(id)`` with M the next power of two above the
    column count, so a larger value always wins and the smaller id
    wins among equals. Values are REBASED per row (subtract the row
    max) before encoding — per-row order is invariant under a per-row
    shift, and the key magnitude then depends on each row's value
    RANGE, not its absolute magnitude (round 10: the Lloyd kernel's
    -d2 keys sat at ~3.3e18 of the 4.6e18 ceiling at 128-cell M and
    would have hit the slow fallback at ~1024 cells; rebased, their
    per-row spread is orders of magnitude smaller). Falls back to the
    per-row lexsort only when even the rebased encoding could overflow
    int64."""
    import numpy as np

    m, n = D.shape
    k = min(k, n)
    if k <= 0 or n == 0:
        return np.empty((m, 0), dtype=np.int64)
    order_ids = np.argsort(ids, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    rank[order_ids] = np.arange(n, dtype=np.int64)
    M = np.int64(1) << int(max(n - 1, 1)).bit_length()
    # row-range guard computed in float BEFORE the int64 subtraction
    # (the subtraction itself could wrap for pathological spreads)
    rowmax = D.max(axis=1, keepdims=True)
    spread = float(
        (D.max(axis=1).astype(np.float64)
         - D.min(axis=1).astype(np.float64)).max(initial=0.0)
    )
    if spread >= float(1 << 62) or spread * float(M) > float(1 << 62):
        out = np.empty((m, k), dtype=np.int64)
        for r in range(m):
            out[r] = np.lexsort((ids, -D[r]))[:k]
        return out
    # ONE matrix-sized temporary, mutated in place, holding -key
    # directly (r13): the expression form `(D - rowmax) * M - rank`
    # plus two `-key` reads allocated ~5 matrix-sized temporaries per
    # block — at production block sizes each is tens-to-hundreds of MB,
    # so every block iteration paid mmap/munmap + page-zeroing for all
    # of them (measured r13 at the 100x replica: the candidate-build
    # workers sat at ~100% SYSTEM time in exactly this loop).  Values
    # are identical: same subtraction, same multiply, same negation.
    key = D - rowmax
    key *= M
    key -= rank[None, :]
    np.negative(key, out=key)
    part = np.argpartition(key, k - 1, axis=1)[:, :k]
    rowkeys = np.take_along_axis(key, part, axis=1)
    order = np.argsort(rowkeys, axis=1, kind="stable")
    return np.take_along_axis(part, order, axis=1)


def _exact_int_matmul_blocks(A, B, block):
    """EXACT integer dot products ``A[s:s+block] @ B.T`` via float64
    BLAS, as an iterator of ``(s, int64 block)`` over row blocks of A
    (at least one block, so an empty A still yields its (0, n) product).
    The guard runs and B is converted once, before the first block.

    numpy's int64 @ has no BLAS kernel (it is a naive triple loop —
    measured ~380 s for the 20 k x 20 k sf1 exact build); float64 DOES.
    The result is still exact integers provided every product and every
    partial sum is <= 2^53: quantized coordinates are |x| <= ~10^5
    (embedding values ~[-1, 1] at scale 10^4), so a 64-term dot tops
    out near 64 * 10^10 ~ 6e11, four orders of magnitude under the
    float64 integer ceiling. The guard enforces the precondition loudly
    rather than ever returning a silently rounded dot: an int64 matmul
    fallback would itself wrap silently once bound^2*dim > 2^63, so
    out-of-range inputs raise instead of risking a wrong answer."""
    import numpy as np

    bound = np.float64(max(np.abs(A).max(initial=0), np.abs(B).max(initial=0)))
    if bound * bound * A.shape[1] > 2**53:
        raise ValueError(
            "quantized embedding magnitude %s exceeds the exact-dot "
            "precondition bound^2*dim <= 2^53; re-quantize at a lower "
            "scale" % bound
        )
    Bt = B.astype(np.float64).T

    def product(s):
        # rint in place on the matmul output (r13): one fewer
        # matrix-sized temporary per block — see _rowwise_topk
        prod = A[s:s + block].astype(np.float64) @ Bt
        np.rint(prod, out=prod)
        return prod.astype(np.int64)

    return ((s, product(s)) for s in range(0, max(len(A), 1), block))


def _exact_int_matmul(A, B):
    """The whole ``A @ B.T`` as one exact int64 block (see
    _exact_int_matmul_blocks for the guard)."""
    ((_, D),) = _exact_int_matmul_blocks(A, B, max(len(A), 1))
    return D


def _exact_sq_l2(P, S):
    """(probers x seeds) EXACT integer squared L2 distances
    ``|p|^2 - 2 p.s + |s|^2``: the dots through _exact_int_matmul (and
    its guard), the norms as int64 sums — exact, since each is at most
    bound^2 * dim <= 2^53."""
    import numpy as np

    D2 = _exact_int_matmul(P, S)
    D2 *= -2
    D2 += np.einsum("ij,ij->i", P, P)[:, None]
    D2 += np.einsum("ij,ij->i", S, S)[None, :]
    return D2


def _split_group(tbl, seed, probe=None, ids="vec_id", vecs="qv"):
    """Decode one Arrow group into id-sorted seeds ``(sids, S)`` and
    probers ``(pids, P)``: the rows whose boolean ``seed`` column is
    true, and those whose ``probe`` column is true (default: those
    that are not seeds). Ids come back as int64, vectors as int64
    matrices (_list_matrix). Returns None when either side is empty;
    the adapters then return ``pa.table({})``, the column-less empty
    result applyInArrow accepts.

    Seeds sort by id (stable), so an argmin over seed columns breaks
    ties to the smallest seed id; _rowwise_topk ranks by id itself and
    gives the same rows in either order."""
    import numpy as np

    def mask(name):
        col = tbl.column(name).combine_chunks()
        return col.to_numpy(zero_copy_only=False).astype(bool)

    is_s = mask(seed)
    is_p = ~is_s if probe is None else mask(probe)
    if not is_s.any() or not is_p.any():
        return None
    idv = tbl.column(ids).combine_chunks().to_numpy(zero_copy_only=False)
    idv = idv.astype(np.int64, copy=False)
    V = _list_matrix(tbl.column(vecs), tbl.num_rows)
    order = np.argsort(idv[is_s], kind="stable")
    return idv[is_s][order], V[is_s][order], idv[is_p], V[is_p]


def _list_column(M):
    """(n, dim) int matrix -> Arrow list<int32> column built as one
    values buffer plus offsets, not per-row Python lists. Values are
    int32 transport (the kernels' inputs arrived as int32 or fit it)."""
    import numpy as np
    import pyarrow as pa

    n, dim = M.shape
    return pa.ListArray.from_arrays(
        pa.array(_list_offsets_i32(n, dim), pa.int32()),
        pa.array(M.ravel().astype(np.int32), pa.int32()),
    )
