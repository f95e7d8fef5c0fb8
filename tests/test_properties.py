"""Property-based tests (hypothesis): the ISO-8601 duration parser and the
mode operator against independent Python reference implementations."""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from youtube_trending_data_pipeline_spark.functions.durations import (
    iso8601_duration_seconds,
)
from youtube_trending_data_pipeline_spark.operators.mode import mode_per_group


def _py_duration_seconds(weeks=0, days=0, hours=0, minutes=0, seconds=0.0) -> int:
    return int(
        weeks * 604800 + days * 86400 + hours * 3600 + minutes * 60 + seconds
    )


duration_parts = st.fixed_dictionaries(
    {
        "weeks": st.integers(0, 10),
        "days": st.integers(0, 30),
        "hours": st.integers(0, 48),
        "minutes": st.integers(0, 120),
        "seconds": st.integers(0, 120),
    }
)


@settings(max_examples=30, deadline=None)
@given(parts=duration_parts, frac=st.integers(0, 9))
def test_duration_parser_matches_reference(spark, parts, frac):
    # build the ISO string; omit zero components (like real API payloads),
    # but keep at least one to stay a valid duration
    date_bits = ""
    if parts["weeks"]:
        date_bits += f"{parts['weeks']}W"
    if parts["days"]:
        date_bits += f"{parts['days']}D"
    time_bits = ""
    if parts["hours"]:
        time_bits += f"{parts['hours']}H"
    if parts["minutes"]:
        time_bits += f"{parts['minutes']}M"
    secs = parts["seconds"] + frac / 10
    if parts["seconds"] or not (date_bits or time_bits):
        time_bits += f"{secs}S"
    iso = "P" + date_bits + ("T" + time_bits if time_bits else "")
    expected = _py_duration_seconds(
        parts["weeks"],
        parts["days"],
        parts["hours"],
        parts["minutes"],
        secs if (parts["seconds"] or not (date_bits or time_bits)) else 0,
    )
    df = spark.createDataFrame([(iso,)], "d string")
    got = df.select(iso8601_duration_seconds("d").alias("s")).collect()[0]["s"]
    assert got == expected, iso


@settings(max_examples=15, deadline=None)
@given(
    values=st.lists(st.sampled_from("abcde"), min_size=1, max_size=40),
    seed=st.integers(0, 10_000),
)
def test_mode_matches_counter(spark, values, seed):
    rng = random.Random(seed)
    rows = [("g", v) for v in values]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "g string, v string")
    got = mode_per_group(df, ["g"], "v").collect()[0]["mode_v"]
    counts = Counter(values)
    best = max(counts.values())
    # engine tie-break: among max-count values, lexicographically smallest
    expected = min(v for v, c in counts.items() if c == best)
    assert got == expected


events = st.lists(
    st.tuples(
        st.integers(0, 5),      # user_id
        st.integers(0, 1000),   # event_id
        st.integers(0, 50),     # ts (small range forces ties)
        st.integers(-100, 100), # value_cents
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=25, deadline=None)
@given(rows=events, cut1=st.integers(0, 40), cut2=st.integers(0, 40))
def test_keep_latest_merge_is_batch_split_invariant(rows, cut1, cut2):
    """The heart of stream_upsert_materialize's correctness claim: the
    keep-latest-per-key merge is associative and commutative, so folding
    ANY 3-way split of the events equals the batch latest-per-key answer
    (pure-Python model of the same (ts, event_id) lexicographic rule —
    ties included, since ts collisions are generated on purpose)."""
    lo, hi = sorted((min(cut1, len(rows)), min(cut2, len(rows))))
    batches = [rows[:lo], rows[lo:hi], rows[hi:]]

    def merge(state, batch):
        for u, e, ts, v in batch:
            cur = state.get(u)
            if cur is None or (ts, e) > (cur[0], cur[1]):
                state[u] = (ts, e, v)
        return state

    incremental = {}
    for b in batches:
        incremental = merge(incremental, b)
    oneshot = merge({}, rows)
    assert incremental == oneshot


# ---------------------------------------------------------------------------
# Winnowing + CDC chunking properties (pure-Python reference models; the
# Spark implementations are oracle-matched separately — these pin the
# ALGORITHM's guarantees on random inputs)
# ---------------------------------------------------------------------------

_W_K, _W_W = 3, 4  # must match catalog_curation._WINNOW_K/_WINNOW_W


def _py_winnow(tokens):
    """Reference winnowing: md5-derived 32-bit shingle hashes, rightmost
    min per w-window, deduped selections — mirrors the catalog entry."""
    import hashlib

    if len(tokens) < _W_K:
        return set()
    hs = [
        int(hashlib.md5(" ".join(tokens[i:i + _W_K]).encode()).hexdigest()[:8], 16)
        for i in range(len(tokens) - _W_K + 1)
    ]
    sel = set()
    for j in range(max(len(hs) - _W_W + 1, 1)):
        win = hs[j:j + _W_W]
        # rightmost minimum
        bi, bv = 0, win[0]
        for i, v in enumerate(win):
            if v <= bv:
                bi, bv = i, v
        sel.add((j + bi, bv))
    return sel


@settings(max_examples=50, deadline=None)
@given(
    shared=st.lists(st.sampled_from("abcdefgh"), min_size=_W_K + _W_W - 1,
                    max_size=12),
    pre_a=st.lists(st.sampled_from("pqrs"), max_size=6),
    pre_b=st.lists(st.sampled_from("tuvw"), max_size=6),
)
def test_winnowing_density_guarantee_property(shared, pre_a, pre_b):
    """Any two token sequences sharing a run of >= w + k - 1 tokens share
    at least one fingerprint HASH (position-independent) — the MOSS
    guarantee, on random surroundings."""
    a = pre_a + shared + ["x"]
    b = pre_b + shared + ["y", "z"]
    ha = {h for _, h in _py_winnow(a)}
    hb = {h for _, h in _py_winnow(b)}
    assert ha & hb


def _py_cdc_chunks(tokens):
    """Reference content-defined chunking: boundary AFTER token t when
    (ascii(first)*31 + ascii(last)*7 + len) % 8 == 0 — mirrors
    catalog_curation._GATE_SQL."""
    chunks, cur = [], []
    for tok in tokens:
        cur.append(tok)
        if (ord(tok[0]) * 31 + ord(tok[-1]) * 7 + len(tok)) % 8 == 0:
            chunks.append(" ".join(cur))
            cur = []
    if cur:
        chunks.append(" ".join(cur))
    return chunks


@settings(max_examples=50, deadline=None)
@given(
    doc=st.lists(
        st.text(alphabet="abcdefgmnopq", min_size=1, max_size=6), min_size=8,
        max_size=40
    ),
    inserted=st.text(alphabet="rstuv", min_size=1, max_size=5),
)
def test_cdc_chunks_after_first_boundary_survive_prefix_edit(doc, inserted):
    """Inserting one token at the head changes AT MOST the chunks before
    the first boundary of the original document: every original chunk
    after that boundary reappears verbatim."""
    orig = _py_cdc_chunks(doc)
    edited = _py_cdc_chunks([inserted] + doc)
    if len(orig) <= 1:
        return  # no interior boundary to preserve
    # all original chunks after the first must survive as a suffix
    assert edited[-(len(orig) - 1):] == orig[1:]


# ---------------------------------------------------------------------------
# Round-6 properties: EWMA segmented fold, PQ assignment
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 5),          # user
            st.integers(0, 10_000),     # ts_us
            st.integers(-10_000, 10_000),  # cents, negatives included
        ),
        min_size=1,
        max_size=60,
    )
)
def test_ewma_segmented_fold_matches_reference(spark, rows):
    """The mapInPandas segmented fold must equal a naive per-event
    Python floor-div fold for ANY (user, ts, value) multiset, including
    negative running sums (the ADVICE-r5 divergence case)."""
    from youtube_trending_data_pipeline_spark.catalog import QUERIES, _load_extensions

    _load_extensions()
    import tempfile

    # distinct (user, ts, event) ordering keys: disambiguate by event_id
    data = [
        (i, u, ts, v / 100.0) for i, (u, ts, v) in enumerate(rows)
    ]
    d = tempfile.mkdtemp(prefix="ewmaprop-")
    spark.createDataFrame(
        data, "event_id long, user_id long, ts long, value double"
    ).selectExpr(
        "event_id",
        "timestamp_micros(ts) AS ts",
        "user_id",
        "'x' AS event_type",
        "value",
        "'' AS props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        r.user_id: (r.n_events, r.ewma_c)
        for r in QUERIES["ewma_user_value"].fn(spark, d).collect()
    }
    ref: dict[int, list[int]] = {}
    for i, (u, ts, v) in sorted(
        enumerate(rows), key=lambda x: (x[1][0], x[1][1], x[0])
    ):
        cents = round(v)  # value round-trips exactly (v/100 * 100)
        s = ref.get(u)
        if s is None:
            ref[u] = [1, cents]
        else:
            s[0] += 1
            s[1] = (s[1] + cents) // 2
    assert got == {u: (s[0], s[1]) for u, s in ref.items()}


@settings(max_examples=10, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_pq_assignment_matches_numpy_argmin(spark, seed):
    """pq_encode's packed-long argmin must equal a direct numpy argmin
    over quantized sub-vector distances with (dist, centroid) ordering."""
    import numpy as np

    from youtube_trending_data_pipeline_spark.operators.similarity import (
        pq_encode,
    )

    rng = np.random.default_rng(seed)
    n, d = 20, 16
    vecs = rng.normal(size=(n, d)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_id, r.sub): (r.code, r.dist_q)
        for r in pq_encode(df, dim=d, m=2, n_centroids=4).collect()
    }
    q = np.floor(vecs.astype("float64") * 10000 + 0.5).astype("int64")
    for i in range(n):
        for sub in range(2):
            lo, hi = sub * 8, sub * 8 + 8
            dists = [
                (int(((q[i, lo:hi] - q[c, lo:hi]) ** 2).sum()), c)
                for c in range(4)  # centroids = 4 smallest vec_ids = 0..3
            ]
            dist, code = min(dists)
            assert got[(i, sub)] == (code, dist), (i, sub)


@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-1000, max_value=1000),
            min_size=4, max_size=4,
        ),
        min_size=0, max_size=12,
    ),
    p=st.integers(min_value=0, max_value=19),
    q=st.integers(min_value=1, max_value=20),
)
@settings(max_examples=60, deadline=None)
def test_semdedup_kernel_matches_pairwise_reference(vecs, p, q):
    """The BLAS Gram kernel emits exactly the pairs the per-pair
    rational predicate admits (id_a < id_b, dot >= 0, both norms > 0,
    q^2 dot^2 >= p^2 na2 nb2) — checked against a pure-Python O(n^2)
    reference on arbitrary small integer vectors, fed as the int32
    Arrow group production sends, ids in a shuffled row order."""
    import pyarrow as pa

    from youtube_trending_data_pipeline_spark.operators.dedup import (
        _semdedup_cell_arrow,
    )

    if p > q:
        p = q  # threshold <= 1 like a cosine
    ids = list(range(100, 100 + len(vecs)))
    order = _shuffled(len(vecs))
    tbl = pa.table(
        {
            "_id": pa.array([ids[i] for i in order], pa.int64()),
            "_qv": pa.array([vecs[i] for i in order], pa.list_(pa.int32())),
        }
    )
    out = _semdedup_cell_arrow(tbl, p, q).to_pylist()
    got = [(r["id_a"], r["id_b"]) for r in out]
    assert len(got) == len(set(got))
    want = set()
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            dot = sum(a * b for a, b in zip(vecs[i], vecs[j]))
            na2 = sum(a * a for a in vecs[i])
            nb2 = sum(b * b for b in vecs[j])
            if dot >= 0 and na2 > 0 and nb2 > 0 \
                    and q * q * dot * dot >= p * p * na2 * nb2:
                want.add((ids[i], ids[j]))
    assert set(got) == want


@given(
    toks=st.lists(
        st.sampled_from(list("abcdefgh")), min_size=0, max_size=12
    ),
)
@settings(max_examples=60, deadline=None)
def test_apriori_combo_explode_matches_itertools(spark, toks):
    """The nested transform/slice combo generator emits exactly the
    sorted C(f,2) and C(f,3) combinations itertools produces."""
    from itertools import combinations

    from pyspark.sql import functions as F

    v = sorted(set(toks))
    df = spark.createDataFrame([(v,)], "v array<string>")
    pair_sql = """flatten(transform(v, (x1, i) ->
        transform(slice(v, i + 2, size(v)), x2 ->
          named_struct('w1', x1, 'w2', x2))))"""
    tri_sql = """flatten(flatten(transform(v, (x1, i) ->
        transform(slice(v, i + 2, size(v)), (x2, j) ->
          transform(slice(v, i + j + 3, size(v)), x3 ->
            named_struct('w1', x1, 'w2', x2, 'w3', x3))))))"""
    pairs = {
        (r["p"]["w1"], r["p"]["w2"])
        for r in df.select(F.explode(F.expr(pair_sql)).alias("p")).collect()
    }
    tris = {
        (r["p"]["w1"], r["p"]["w2"], r["p"]["w3"])
        for r in df.select(F.explode(F.expr(tri_sql)).alias("p")).collect()
    }
    assert pairs == set(combinations(v, 2))
    assert tris == set(combinations(v, 3))


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=10, deadline=None)
def test_poisson_weights_sum_preserves_mean_bounds(seed):
    """Hash-derived Poisson(1) weights: the inverse-CDF thresholds map
    uniform ppm draws to weights in 0..7 whose expectation over the
    ppm grid equals Poisson(1)'s truncated mean to within the grid's
    resolution (the determinism contract — no RNG anywhere)."""
    from youtube_trending_data_pipeline_spark.catalog_quality import (
        _POIS_CUM_PPM,
    )

    # thresholds must be strictly increasing and under 1e6
    assert list(_POIS_CUM_PPM) == sorted(set(_POIS_CUM_PPM))
    assert _POIS_CUM_PPM[-1] < 1_000_000

    def w(u):
        for k, c in enumerate(_POIS_CUM_PPM):
            if u < c:
                return k
        return 7

    # exact expectation over the full ppm grid
    total = sum(w(u) for u in range(0, 1_000_000, 997))  # stride sample
    mean = total / len(range(0, 1_000_000, 997))
    assert 0.95 < mean < 1.05  # Poisson(1) mean within grid tolerance


def _shuffled(n):
    """A fixed non-sorted row order, so a kernel cannot rely on input order."""
    return sorted(range(n), key=lambda i: ((i * 7919) % 97, i))


def _seed_group(vecs, n_seeds, ids_col="vec_id", vec_col="qv", flag="is_seed", width=None):
    """The Arrow group a salt-group kernel receives: every vector as a
    prober (ids 100, 101, ...), plus the first ``n_seeds`` of them by id
    again as seed rows, in a shuffled row order. Returns the table and
    the ids."""
    import pyarrow as pa

    ids = list(range(100, 100 + len(vecs)))
    rows = [(ids[i], v, False) for i, v in enumerate(vecs)]
    rows += [(ids[j], vecs[j], True) for j in range(n_seeds)]
    rows = [rows[i] for i in _shuffled(len(rows))]
    tbl = pa.table(
        {
            ids_col: pa.array([r[0] for r in rows], pa.int64()),
            vec_col: pa.array([r[1] for r in rows], pa.list_(width or pa.int32())),
            flag: pa.array([r[2] for r in rows]),
        }
    )
    return tbl, ids


def _nearest(v, seeds, n):
    """Reference (d2 ASC, id ASC) rule: the ``n`` nearest (d2, id) of
    ``seeds`` [(id, vector)] to ``v`` by exact squared L2."""
    return sorted(
        (sum((a - b) * (a - b) for a, b in zip(v, s)), sid) for sid, s in seeds
    )[:n]


_small_vecs = st.lists(
    st.lists(st.integers(min_value=-1000, max_value=1000), min_size=3, max_size=3),
    min_size=1,
    max_size=10,
)


@given(
    vecs=_small_vecs,
    n_seeds=st.integers(min_value=1, max_value=6),
    probe=st.integers(min_value=1, max_value=6),
    member=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=60, deadline=None)
def test_pivot_rank_kernel_matches_reference(vecs, n_seeds, probe, member):
    """The BLAS pivot-ranking kernel emits exactly each prober's
    top-probe cells by (dot DESC, seed_id ASC) with is_m = rank <=
    member, is_p set and the prober's own vector as the qv payload —
    checked against a pure-Python reference on arbitrary small integer
    vectors (seeds = the first n_seeds vectors by id, like the
    production build)."""
    from youtube_trending_data_pipeline_spark.catalog_analysis import (
        _pivot_rank_arrow,
    )

    n_seeds = min(n_seeds, len(vecs))
    tbl, ids = _seed_group(vecs, n_seeds)
    got = _pivot_rank_arrow(tbl, probe, member).to_pylist()
    assert all(r["is_p"] for r in got)
    got_set = {
        (r["vec_id"], r["cell"], r["is_m"], tuple(r["qv"])) for r in got
    }
    assert len(got_set) == len(got)
    want = set()
    for i, v in enumerate(vecs):
        dots = sorted(
            (-sum(a * b for a, b in zip(v, vecs[j])), ids[j])
            for j in range(n_seeds)
        )
        for r, (_, sid) in enumerate(dots[:probe], start=1):
            want.add((ids[i], sid, r <= member, tuple(v)))
    assert got_set == want


@given(
    vecs=_small_vecs,
    flags=st.lists(st.tuples(st.booleans(), st.booleans()), min_size=10, max_size=10),
    k=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_knn_cell_kernel_matches_reference(vecs, flags, k):
    """The kNN cell kernel emits, for every prober row, its top-k
    member rows by (dot DESC, id ASC) with the exact dot, self-pairs
    excluded; member-only rows emit nothing — checked against a
    pure-Python reference with arbitrary (is_m, is_p) flags."""
    import pyarrow as pa

    from youtube_trending_data_pipeline_spark.catalog_analysis import (
        _knn_cell_arrow,
    )

    ids = list(range(100, 100 + len(vecs)))
    flags = flags[: len(vecs)]
    order = _shuffled(len(vecs))
    tbl = pa.table(
        {
            "vec_id": pa.array([ids[i] for i in order], pa.int64()),
            "qv": pa.array([vecs[i] for i in order], pa.list_(pa.int32())),
            "is_m": pa.array([flags[i][0] for i in order]),
            "is_p": pa.array([flags[i][1] for i in order]),
        }
    )
    got = [(r["u"], r["v"], r["dot"]) for r in _knn_cell_arrow(tbl, k).to_pylist()]
    want = []
    for i, u in enumerate(vecs):
        if not flags[i][1]:
            continue
        cands = sorted(
            (-sum(a * b for a, b in zip(u, vecs[j])), ids[j])
            for j in range(len(vecs))
            if flags[j][0] and j != i
        )
        want += [(ids[i], vid, -nd) for nd, vid in cands[:k]]
    assert sorted(got) == sorted(want)


@given(
    vecs=_small_vecs,
    n_seeds=st.integers(min_value=1, max_value=6),
    coarse=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_semdedup_assign_kernel_matches_reference(vecs, n_seeds, coarse):
    """The argmin-L2 assignment kernel picks, for every vector, the
    seed with minimal integer squared distance and the SMALLEST seed
    id among ties, and carries the vector as its _qv payload — checked
    against the pure-Python (d2 ASC, id ASC) reference. ``coarse``
    snaps coordinates to a 3-value grid so distance ties are common."""
    from youtube_trending_data_pipeline_spark.operators.dedup import (
        _semdedup_assign_arrow,
    )

    if coarse:
        vecs = [[x % 3 - 1 for x in v] for v in vecs]
    n_seeds = min(n_seeds, len(vecs))
    tbl, ids = _seed_group(vecs, n_seeds, "_id", "_qv")
    seeds = list(zip(ids[:n_seeds], vecs[:n_seeds]))
    out = _semdedup_assign_arrow(tbl).to_pylist()
    got = {r["_id"]: (r["cell"], r["_qv"]) for r in out}
    assert len(got) == len(out)
    assert got == {
        ids[i]: (_nearest(v, seeds, 1)[0][1], v) for i, v in enumerate(vecs)
    }


@given(
    vecs=st.lists(
        st.lists(st.integers(min_value=-1000, max_value=1000), min_size=4, max_size=4),
        min_size=1,
        max_size=10,
    ),
    n_seeds=st.integers(min_value=1, max_value=6),
    n_keep=st.integers(min_value=1, max_value=4),
    coarse=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_pq_and_lloyd_kernels_match_nearest_seed_reference(vecs, n_seeds, n_keep, coarse):
    """The PQ encoding and Lloyd assignment kernels follow the same
    (d2 ASC, id ASC) nearest-seed reference as semdedup assignment: PQ
    emits, per 2-dim subspace, the nearest codeword and its distance;
    Lloyd emits the n_keep nearest centroids with d2 and rank."""
    import pyarrow as pa

    from youtube_trending_data_pipeline_spark.catalog_analysis_series import (
        _lloyd_assign_arrow,
    )
    from youtube_trending_data_pipeline_spark.operators.similarity import (
        _pq_encode_arrow,
    )

    if coarse:
        vecs = [[x % 3 - 1 for x in v] for v in vecs]
    n_seeds = min(n_seeds, len(vecs))
    tbl, ids = _seed_group(vecs, n_seeds, width=pa.int64())
    seeds = list(zip(ids[:n_seeds], vecs[:n_seeds]))
    out = _pq_encode_arrow(tbl, 2, 2).to_pylist()
    got = {(r["vec_id"], r["sub"]): (r["code"], r["dist_q"]) for r in out}
    assert len(got) == len(out)
    want = {}
    for i, v in enumerate(vecs):
        for sub in range(2):
            part = slice(2 * sub, 2 * sub + 2)
            d2, sid = _nearest(v[part], [(s, c[part]) for s, c in seeds], 1)[0]
            want[(ids[i], sub)] = (sid, d2)
    assert got == want

    tbl, _ = _seed_group(vecs, n_seeds, vec_col="arr", flag="is_cent", width=pa.int64())
    got = sorted(
        (r["vec_id"], r["cell_rank"], r["cid"], r["d2"])
        for r in _lloyd_assign_arrow(tbl, n_keep).to_pylist()
    )
    want = sorted(
        (ids[i], rank, sid, d2)
        for i, v in enumerate(vecs)
        for rank, (d2, sid) in enumerate(_nearest(v, seeds, n_keep), start=1)
    )
    assert got == want


def test_list_matrix_rejects_ragged_and_empty_groups():
    """r14 (ADVICE r13): the flat-buffer decode must fail LOUDLY on a
    ragged group — a divisible total would otherwise reshape into a
    silently misaligned matrix — and on all-empty groups (opaque
    reshape error before)."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from youtube_trending_data_pipeline_spark.operators.intlinalg import (
        _list_matrix,
    )

    # ragged but divisible: 2 rows, lengths 1 + 3 = 4 -> old reshape
    # (2, 2) would silently misalign
    ragged = pa.chunked_array([pa.array([[1], [2, 3, 4]], pa.list_(pa.int32()))])
    with pytest.raises(ValueError, match="ragged"):
        _list_matrix(ragged, 2)
    empty = pa.chunked_array([pa.array([[], []], pa.list_(pa.int32()))])
    with pytest.raises(ValueError, match="ragged or empty"):
        _list_matrix(empty, 2)
    # NULL list counts as length 0 -> ragged
    withnull = pa.chunked_array(
        [pa.array([[1, 2], None], pa.list_(pa.int32()))]
    )
    with pytest.raises(ValueError, match="ragged"):
        _list_matrix(withnull, 2)
    # uniform groups still decode exactly
    ok = pa.chunked_array(
        [pa.array([[1, 2, 3], [4, 5, 6]], pa.list_(pa.int32()))]
    )
    M = _list_matrix(ok, 2)
    assert M.dtype == np.int64 and M.shape == (2, 3)
    assert (M == np.array([[1, 2, 3], [4, 5, 6]])).all()


def test_list_offsets_guard_rejects_int32_overflow():
    """r14 (ADVICE r13): replicated-list offsets must raise a
    descriptive error instead of wrapping int32 into negative offsets
    (ArrowInvalid far from the cause)."""
    import numpy as np
    import pytest

    from youtube_trending_data_pipeline_spark.operators.intlinalg import (
        _list_offsets_i32,
    )

    off = _list_offsets_i32(3, 4)
    assert off.dtype == np.int32
    assert (off == np.array([0, 4, 8, 12], np.int32)).all()
    with pytest.raises(ValueError, match="2\\^31"):
        _list_offsets_i32((1 << 31) // 64 + 1, 64)
    # just under the ceiling the offsets are built: the arange's own
    # stop, (n_rows + 1) * dim = 2^31, must not overflow first
    near = _list_offsets_i32((1 << 11) - 1, 1 << 20)
    assert near.dtype == np.int32 and len(near) == 1 << 11
    assert int(near[-1]) == (1 << 31) - (1 << 20)


def test_list_matrix_rejects_null_elements():
    """A NULL element inside an equal-length list raises a named error
    instead of decoding to INT64_MIN."""
    import pyarrow as pa
    import pytest

    from youtube_trending_data_pipeline_spark.operators.intlinalg import (
        _list_matrix,
    )

    col = pa.chunked_array(
        [pa.array([[1, None, 3], [4, 5, 6]], pa.list_(pa.int32()))]
    )
    with pytest.raises(ValueError, match="NULL element"):
        _list_matrix(col, 2)
