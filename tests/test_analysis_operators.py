"""Behavioral claims of the catalog_analysis operators — the semantics
the oracle sweep can't state: peel monotonicity/fixpoint headroom on
crafted graphs, pass@k's unbiasedness identities, nucleus monotonicity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.catalog import QUERIES, _load_extensions
from youtube_trending_data_pipeline_spark.operators.graph import kcore_peel

_load_extensions()

SF = "/root/testdata/sf0.001"


def _sym_edges(spark, pairs):
    und = spark.createDataFrame(pairs, "u long, v long")
    return und.selectExpr("u AS src", "v AS dst").union(
        und.selectExpr("v AS src", "u AS dst")
    )


def test_kcore_path_graph_dissolves_at_k2(spark):
    """A path has no 2-core: peeling eats it from both endpoints inward,
    one layer per round — the crafted case that exercises MULTIPLE
    peel rounds, not just one."""
    path = [(i, i + 1) for i in range(6)]  # 0-1-2-...-6
    out = kcore_peel(_sym_edges(spark, path), k=2, rounds=4).collect()
    assert out == []


def test_kcore_clique_plus_pendant(spark):
    """A 4-clique with a pendant vertex: the pendant (deg 1) peels in
    round one, the clique survives k=3 intact with core_deg 3 each."""
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    pendant = [(3, 99)]
    rows = kcore_peel(
        _sym_edges(spark, clique + pendant), k=3, rounds=3
    ).collect()
    got = {r["node"]: r["core_deg"] for r in rows}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_needs_multiple_rounds(spark):
    """Cascade: clique - a - b chain. Round 1 peels b (deg 1), round 2
    peels a (now deg 1): one round is NOT enough, proving the peel is
    iterative and the fixed budget matters."""
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 50), (50, 51)]
    one = kcore_peel(_sym_edges(spark, clique + chain), k=2, rounds=1)
    two = kcore_peel(_sym_edges(spark, clique + chain), k=2, rounds=2)
    assert 50 in {r["node"] for r in one.collect()}  # a survives round 1
    assert {r["node"] for r in two.collect()} == {0, 1, 2, 3}


def test_kcore_entry_fixpoint_headroom(spark):
    """The registered entry's round budget has real margin: one extra
    round changes nothing at gate scale (peeling is monotone, so equal
    outputs == fixpoint reached strictly before the budget)."""
    import youtube_trending_data_pipeline_spark.catalog_analysis as ca

    base = QUERIES["graph_kcore_mutual_knn"].fn(spark, SF)
    bumped_rounds = ca._PEEL_ROUNDS + 1
    orig = ca._PEEL_ROUNDS
    try:
        ca._PEEL_ROUNDS = bumped_rounds
        bumped = QUERIES["graph_kcore_mutual_knn"].fn(spark, SF)
        a = sorted((r["node"], r["core_deg"]) for r in base.collect())
        b = sorted((r["node"], r["core_deg"]) for r in bumped.collect())
    finally:
        ca._PEEL_ROUNDS = orig
    assert a == b and len(a) > 0


def test_pass_at_k_identities(spark):
    """pass@1 == c/n exactly (num/den reduces to c*...  /n*...), and
    pass@k is monotone nondecreasing in k for every task."""
    df = QUERIES["eval_pass_at_k"].fn(spark, SF).collect()
    by_user: dict[int, dict[int, tuple]] = {}
    for r in df:
        by_user.setdefault(r["user_id"], {})[r["k"]] = r
    assert by_user
    for user, ks in by_user.items():
        if 1 in ks:
            r = ks[1]
            # pass@1 = c/n: num * n == den * c
            assert r["pass_num"] * r["n_trials"] == r["pass_den"] * r["n_pass"]
        fracs = [
            (k, r["pass_num"] / r["pass_den"]) for k, r in sorted(ks.items())
        ]
        for (k0, f0), (k1, f1) in zip(fracs, fracs[1:]):
            assert f1 >= f0 - 1e-12, (user, k0, k1, f0, f1)
        for r in ks.values():
            # exact binomial identity: C(n,k) = n! / (k!(n-k)!)
            n, k = r["n_trials"], r["k"]
            assert r["pass_den"] == math.comb(n, k)
            assert r["pass_num"] == math.comb(n, k) - math.comb(
                n - r["n_pass"], k
            )


def test_nucleus_bounds(spark):
    """1 <= nucleus_size <= vocab_next; a context whose top token holds
    >= 90% of the mass has nucleus_size == 1."""
    rows = QUERIES["ngram_nucleus_cutoff"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r["nucleus_size"] <= r["vocab_next"]


def test_nucleus_crafted_distribution(spark):
    """Crafted doc set: context 'a' continues to x,x,x,x,x,x,x,x,x,y
    (9:1) -> nucleus at p=0.9 is exactly {x}; context 'b' continues
    50/50 -> needs both tokens."""
    import tempfile

    d = tempfile.mkdtemp(prefix="nucleus-")
    docs = [
        (1, "a x " * 9 + "a y", "en", "s", 1),
        (2, "b p b q", "en", "s", 1),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {
        r["context"]: r
        for r in QUERIES["ngram_nucleus_cutoff"].fn(spark, d).collect()
    }
    assert rows["a"]["nucleus_size"] == 1
    assert rows["a"]["top_next"] == "x"
    assert rows["a"]["total_cnt"] == 10
    # 'b' has total 2 < min-total filter of 5 -> absent
    assert "b" not in rows


def test_er_score_decomposition(spark):
    """Every emitted pair's score equals the weight sum of its agreement
    flags, clears the threshold, and is canonically ordered."""
    import youtube_trending_data_pipeline_spark.catalog_analysis as ca

    rows = QUERIES["er_blocked_match_score"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        expect = (
            r["seg_agree"] * ca._ER_W_SEG
            - (1 - r["seg_agree"]) * ca._ER_U_SEG
            + r["band_agree"] * ca._ER_W_BAND
            - (1 - r["band_agree"]) * ca._ER_U_BAND
            + r["close_agree"] * ca._ER_W_CLOSE
            - (1 - r["close_agree"]) * ca._ER_U_CLOSE
        )
        assert r["score"] == expect >= ca._ER_THRESHOLD
        assert r["a_key"] < r["b_key"]


def test_copeland_zero_sum(spark):
    """Copeland scores sum to zero across types (every decisive matchup
    contributes +1 and -1), and each type's matchup counts add up to
    (n_types - 1)."""
    rows = QUERIES["eval_pairwise_winrate"].fn(spark, SF).collect()
    n = len(rows)
    assert n >= 2
    assert sum(r["copeland"] for r in rows) == 0
    for r in rows:
        assert r["n_beats"] + r["n_losses"] + r["n_ties"] == n - 1


def test_theta_sketch_bounds(spark):
    """theta <= U32; retained common hashes fit the sketch size; the
    estimator is exact-equal when both sets fit inside the sketch."""
    import youtube_trending_data_pipeline_spark.catalog_analysis as ca

    r = QUERIES["sketch_theta_intersect"].fn(spark, SF).collect()[0]
    assert 0 < r["theta"] <= ca._U32
    assert 0 <= r["n_common"] <= ca._THETA_K
    assert r["est_intersect"] >= 0 and r["exact_intersect"] >= 0
    if r["theta"] == ca._U32:  # both sets smaller than k: sketch is exact
        assert r["est_intersect"] == r["exact_intersect"]


def test_theta_sketch_exact_when_small(spark):
    """Crafted events: 10 click user-days and 10 purchase user-days with
    5 shared -> both sets fit in k=64, so the 'estimate' IS exact."""
    import tempfile

    d = tempfile.mkdtemp(prefix="theta-")
    rows = []
    eid = 0
    for u in range(10):
        eid += 1
        rows.append((eid, u, 86400000000 * u, "click", 0.0, "{}"))
    for u in range(5, 15):  # users 5..9 shared with clicks (same day=u)
        eid += 1
        rows.append((eid, u, 86400000000 * u, "purchase", 0.0, "{}"))
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = QUERIES["sketch_theta_intersect"].fn(spark, d).collect()[0]
    assert r["exact_intersect"] == 5
    assert r["est_intersect"] == 5
    assert r["n_common"] == 5


def test_permutation_test_invariants(spark):
    """n_perm fixed, numerator within range, ppm arithmetic exact."""
    r = QUERIES["ab_permutation_test"].fn(spark, SF).collect()[0]
    assert r["n_perm"] == 64
    assert 0 <= r["n_ge"] <= 64
    assert r["p_ppm"] == (1000000 * r["n_ge"]) // 64


def test_ktruss_triangle_keeps_pendant_drops(spark):
    """A triangle plus a pendant edge: every triangle edge has support 1
    (>= k-2 for k=3) and survives; the pendant edge closes no triangle
    and is peeled."""
    from youtube_trending_data_pipeline_spark.operators.graph import ktruss_peel

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 9)], "src long, dst long"
    )
    rows = ktruss_peel(edges, k=3, rounds=3).collect()
    got = {(r["src"], r["dst"]): r["support"] for r in rows}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_ktruss_cascade(spark):
    """K4 minus one edge under k=4: the two edges not on both remaining
    triangles fall first, then the rest cascade — fixed-round peel to
    empty, exercising >1 round."""
    from youtube_trending_data_pipeline_spark.operators.graph import ktruss_peel

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    k4.remove((0, 1))
    edges = spark.createDataFrame(k4, "src long, dst long")
    assert ktruss_peel(edges, k=4, rounds=4).collect() == []
    # the intact K4 survives k=4 with support 2 per edge
    full = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long",
    )
    rows = ktruss_peel(full, k=4, rounds=4).collect()
    assert len(rows) == 6 and all(r["support"] == 2 for r in rows)


def test_ktruss_entry_fixpoint_headroom(spark):
    """One extra round changes nothing at gate scale."""
    import youtube_trending_data_pipeline_spark.catalog_analysis as ca

    orig = ca._TRUSS_ROUNDS
    base = QUERIES["graph_ktruss_mutual_knn"].fn(spark, SF)
    try:
        ca._TRUSS_ROUNDS = orig + 1
        bumped = QUERIES["graph_ktruss_mutual_knn"].fn(spark, SF)
        a = sorted((r["src"], r["dst"], r["support"]) for r in base.collect())
        b = sorted((r["src"], r["dst"], r["support"]) for r in bumped.collect())
    finally:
        ca._TRUSS_ROUNDS = orig
    assert a == b and len(a) > 0


def test_zonemap_sorted_layout_dominates(spark):
    """The shipdate-sorted layout skips at least as many files as the
    ingest layout for every predicate, and scanned rows always cover
    the true matches."""
    rows = QUERIES["zonemap_skip_stats"].fn(spark, SF).collect()
    by = {(r["layout"], r["quarter"]): r for r in rows}
    quarters = {q for (_, q) in by}
    assert len(quarters) == 4
    for q in quarters:
        ing, srt = by[("ingest", q)], by[("sorted", q)]
        assert srt["n_skipped"] >= ing["n_skipped"]
        for r in (ing, srt):
            assert r["n_files"] == 64
            assert r["rows_scanned"] >= r["rows_matched"]


def test_padding_sorted_batching_wastes_less(spark):
    """Same corpus either way: identical total real tokens; the
    length-sorted policy never pads more than arrival order."""
    rows = {r["policy"]: r for r in
            QUERIES["batch_padding_waste"].fn(spark, SF).collect()}
    arr, srt = rows["arrival"], rows["length_sorted"]
    assert arr["total_tokens"] == srt["total_tokens"]
    assert srt["total_padding"] <= arr["total_padding"]
    assert arr["n_batches"] == srt["n_batches"]


def test_ablation_grid_monotone_in_mask(spark):
    """Adding a filter can only shrink the surviving set: survivors of a
    superset mask <= survivors of any of its subsets; mask 0 keeps
    everything."""
    rows = {r["mask"]: r for r in
            QUERIES["filter_ablation_grid"].fn(spark, SF).collect()}
    assert set(rows) == set(range(8))
    total = rows[0]["n_survivors"]
    for m in range(8):
        for bit in (1, 2, 4):
            if m & bit:
                sub = m & ~bit
                assert rows[m]["n_survivors"] <= rows[sub]["n_survivors"]
                assert rows[m]["tokens_kept"] <= rows[sub]["tokens_kept"]
        assert rows[m]["n_survivors"] <= total


def test_late_event_audit_monotone_in_watermark(spark):
    """A larger watermark delay never drops MORE events, watermark 0 is
    the strictest, and kept+dropped always covers the stream."""
    rows = sorted(
        QUERIES["late_event_audit"].fn(spark, SF).collect(),
        key=lambda r: r["watermark_s"],
    )
    assert [r["watermark_s"] for r in rows] == [0, 900, 1800, 3600]
    n = rows[0]["n_dropped"] + rows[0]["n_kept"]
    for r in rows:
        assert r["n_dropped"] + r["n_kept"] == n
    for a, b in zip(rows, rows[1:]):
        assert b["n_dropped"] <= a["n_dropped"]


def test_ta_early_termination_and_correct_topk(spark):
    """TA halts far above the cap, touches few docs but at least k, and
    its top-k IS the exact top-k (ranks 1..k, strictly ordered)."""
    import youtube_trending_data_pipeline_spark.catalog_analysis as ca

    rows = sorted(
        QUERIES["retrieval_threshold_algorithm"].fn(spark, SF).collect(),
        key=lambda r: r["rank_total"],
    )
    assert [r["rank_total"] for r in rows] == list(range(1, ca._TA_K + 1))
    stop = rows[0]["stop_depth"]
    touched = rows[0]["n_touched"]
    assert stop <= ca._TA_DEPTH_CAP  # cap never binds at gate scale
    assert ca._TA_K <= touched <= 2 * stop  # <= 2 new docs per depth
    totals = [r["total"] for r in rows]
    assert totals == sorted(totals, reverse=True)


def test_ta_anticorrelated_goes_deeper(spark):
    """Crafted anti-correlated lists (high sa <-> low sb) force TA deeper
    than a correlated corpus: stop_depth > k."""
    import tempfile

    d = tempfile.mkdtemp(prefix="ta-")
    docs = []
    for i in range(60):
        # sa ~ i, sb ~ (60 - i): perfectly anti-correlated signals
        text = " ".join(f"w{j}" for j in range(60 - i))
        docs.append((i, text, "en", "s", i * 10 + 10))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = QUERIES["retrieval_threshold_algorithm"].fn(spark, d).collect()
    assert rows[0]["stop_depth"] > 10


def test_skyline_is_exactly_the_nondominated_set(spark):
    """Brute-force dominance check in Python over the same (quality,
    size) pairs: the operator returns exactly the non-dominated set."""
    from youtube_trending_data_pipeline_spark.catalog import t as _t
    import youtube_trending_data_pipeline_spark.catalog_analysis as ca

    d = (
        _t(spark, SF, "documents")
        .select(
            "doc_id",
            F.size(F.array_distinct(ca._toks_a())).cast("long").alias("q"),
            F.col("n_chars").cast("long").alias("s"),
        )
        .collect()
    )
    pts = [(r["doc_id"], r["q"], r["s"]) for r in d]
    expected = {
        i
        for (i, q, s) in pts
        if not any(
            (qb >= q and sb >= s and (qb > q or sb > s))
            for (_, qb, sb) in pts
        )
    }
    got = {
        r["doc_id"]
        for r in QUERIES["skyline_pareto_frontier"].fn(spark, SF).collect()
    }
    assert got == expected and got


def test_holt_fold_matches_python_reference(spark):
    """Crafted series per user (including a falling one, where the trend
    register goes NEGATIVE and floor-vs-truncate matters): the kernel
    reproduces the reference fold exactly."""
    import tempfile

    d = tempfile.mkdtemp(prefix="holt-")
    series = {
        1: [100.0, 0.0, 0.0, 0.0],     # collapse: negative trend
        2: [10.0, 20.0, 30.0, 40.0],   # steady climb
        3: [5.0],                      # singleton: trend 0
    }
    rows, eid = [], 0
    for u, vals in series.items():
        for i, v in enumerate(vals):
            eid += 1
            rows.append((eid, u, i * 1000000, "view", v, "{}"))
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    def ref(vals):
        lv, tr = int(round(vals[0] * 100)), 0
        for v in vals[1:]:
            x = int(round(v * 100))
            nl = (x + lv + tr) // 2
            tr = (nl - lv + tr) // 2
            lv = nl
        return lv, tr

    got = {
        r["user_id"]: r
        for r in QUERIES["holt_linear_fold"].fn(spark, d).collect()
    }
    for u, vals in series.items():
        lv, tr = ref(vals)
        assert got[u]["level_c"] == lv
        assert got[u]["trend_c"] == tr
        assert got[u]["forecast_c"] == lv + tr
        assert got[u]["n_events"] == len(vals)
    assert got[1]["trend_c"] < 0  # the falling series really exercises floor


def test_ivm_consistency_flag_and_nontrivial_delta(spark):
    """Maintained == recomputed for every type, AND the delta actually
    does something (some inserts and some retractions exist at gate
    scale, else the audit is vacuous)."""
    rows = QUERIES["ivm_delta_aggregate"].fn(spark, SF).collect()
    assert rows
    assert all(r["consistent"] == 1 for r in rows)
    assert all(r["maintained_n"] == r["recomputed_n"] for r in rows)
    assert all(r["maintained_sum"] == r["recomputed_sum"] for r in rows)


def test_two_pass_median_equals_sorted_definition(spark):
    """The bucket-selected median equals the k-th value of a plain sort,
    and the second pass touched only a small fraction of the data."""
    from youtube_trending_data_pipeline_spark.catalog import cents, t as _t

    r = QUERIES["exact_median_twopass"].fn(spark, SF).collect()[0]
    vals = sorted(
        x["v"]
        for x in _t(spark, SF, "lineitem")
        .select(cents("l_extendedprice").alias("v"))
        .collect()
    )
    assert r["n"] == len(vals)
    assert r["median_c"] == vals[r["k"] - 1]
    assert r["bucket_rows"] < r["n"] // 10  # pass 2 is bucket-local


def test_skew_report_internal_consistency(spark):
    """max >= p99 >= p50 >= 1; imbalance_ppm >= 1e6 (max >= mean); the
    heaviest key really attains max_freq."""
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    r = QUERIES["skew_diagnosis_report"].fn(spark, SF).collect()[0]
    assert r["max_freq"] >= r["p99_freq"] >= r["p50_freq"] >= 1
    assert r["imbalance_ppm"] >= 1000000
    freqs = (
        _t(spark, SF, "lineitem")
        .groupBy("l_suppkey")
        .count()
        .collect()
    )
    by_key = {x["l_suppkey"]: x["count"] for x in freqs}
    assert by_key[r["heaviest_key"]] == r["max_freq"]
    assert r["n_keys"] == len(by_key)


def test_consistent_hash_moves_less(spark):
    """Ring placement moves roughly 1/(n+1) of docs; modulo moves the
    vast majority — the audit must show the separation, and both
    strategies count every doc."""
    rows = {r["strategy"]: r for r in
            QUERIES["consistent_hash_rebalance"].fn(spark, SF).collect()}
    ch, md = rows["consistent"], rows["mod"]
    assert ch["n_docs"] == md["n_docs"] > 0
    assert ch["n_moved"] < md["n_moved"]
    assert ch["moved_ppm"] < 400000   # ~111k expected; generous bound
    assert md["moved_ppm"] > 600000   # ~889k expected


def test_rle_audit_sorted_always_wins(spark):
    """Sorting can't create runs: n_runs(sorted) == n_distinct exactly
    (every value groups into one run) and never exceeds the natural
    layout's runs."""
    rows = QUERIES["encoding_rle_audit"].fn(spark, SF).collect()
    by = {(r["col"], r["ord"]): r for r in rows}
    for col in ("returnflag", "linestatus", "shipday"):
        nat, srt = by[(col, "natural")], by[(col, "sorted")]
        assert srt["n_runs"] == srt["n_distinct"]
        assert srt["n_runs"] <= nat["n_runs"]
        assert nat["n_rows"] == srt["n_rows"]


def test_spatial_join_matches_bruteforce(spark):
    """Python brute force over the same hash-derived points: the grid
    join finds exactly the within-radius pairs — including pairs whose
    points sit in DIFFERENT grid cells."""
    import youtube_trending_data_pipeline_spark.catalog_analysis_mining as ca
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    SF01 = "/root/testdata/sf0.01"
    users = [
        r["user_id"]
        for r in _t(spark, SF01, "events").select("user_id").distinct().collect()
    ]
    import hashlib

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    pts = {
        u: (h32(f"x:{u}") % ca._GEO_SPAN, h32(f"y:{u}") % ca._GEO_SPAN)
        for u in users
    }
    expected = set()
    cross_cell = 0
    for a in users:
        for b in users:
            if a < b:
                dx = pts[a][0] - pts[b][0]
                dy = pts[a][1] - pts[b][1]
                if dx * dx + dy * dy <= ca._GEO_R2:
                    expected.add((a, b))
                    if (
                        pts[a][0] // ca._GEO_CELL != pts[b][0] // ca._GEO_CELL
                        or pts[a][1] // ca._GEO_CELL
                        != pts[b][1] // ca._GEO_CELL
                    ):
                        cross_cell += 1
    got = {
        (r["user_a"], r["user_b"])
        for r in QUERIES["geo_grid_spatial_join"].fn(spark, SF01).collect()
    }
    assert got == expected and got
    assert cross_cell > 0  # the neighborhood probe is genuinely exercised


def test_temporal_reachability_respects_time(spark):
    """Crafted 3-chain with DECREASING edge times: static BFS would reach
    the end, time-respecting reachability must NOT (the second edge
    fired before the walker arrived)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="treach-")
    B = 600000000  # one bucket, in microseconds
    rows = [
        # seed user 0 (0 % 20 == 0) meets user 1 at bucket 5
        (1, 0, 5 * B, "click", 0.0, "{}"),
        (2, 1, 5 * B, "click", 0.0, "{}"),
        # user 1 met user 2 EARLIER, at bucket 3: edge exists but its
        # time precedes user 1's arrival (5) -> not traversable
        (3, 1, 3 * B, "view", 0.0, "{}"),
        (4, 2, 3 * B, "view", 0.0, "{}"),
        # user 2 meets user 3 at bucket 7: unreachable because 2 is
        (5, 2, 7 * B, "signup", 0.0, "{}"),
        (6, 3, 7 * B, "signup", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r["user_id"]: r["arrival_bucket"]
        for r in QUERIES["graph_temporal_reachability"].fn(spark, d).collect()
    }
    assert 0 in got and got[0] == 0
    assert got.get(1) == 5      # reached via the bucket-5 edge
    assert 2 not in got         # time-respecting: stale edge unusable
    assert 3 not in got


def test_range_partition_balance_invariants(spark):
    """All rows assigned; partitions used <= 32; max >= avg >= min; the
    sampled boundaries deliver sane balance (imbalance < 4x)."""
    r = QUERIES["range_partition_balance"].fn(spark, SF).collect()[0]
    assert r["n_parts_used"] <= 32
    assert r["n_rows"] == 6000
    assert r["max_rows"] >= r["n_rows"] // r["n_parts_used"] >= r["min_rows"]
    assert 1000000 <= r["imbalance_ppm"] < 4000000
    assert 0 < r["sample_rows"] < r["n_rows"] // 10


def test_l_diversity_flags_consistent(spark):
    """satisfies_l is exactly the l_distinct >= 3 predicate and distinct
    sensitive values can never exceed group size."""
    rows = QUERIES["privacy_l_diversity"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["satisfies_l"] == (1 if r["l_distinct"] >= 3 else 0)
        assert 1 <= r["l_distinct"] <= r["group_size"]


def test_theil_sen_robust_to_outlier(spark):
    """Crafted series: steady +10c/s slope with one wild outlier point —
    Theil-Sen stays at the true slope where the mean of slopes would
    be dragged away."""
    import tempfile

    d = tempfile.mkdtemp(prefix="ts-")
    rows = []
    # user 1: v = 10c per second over 10 points, except point 5 spikes
    for i in range(10):
        v = 1.0 * i if i != 5 else 1000.0
        rows.append((i + 1, 1, i * 1000000, "view", v, "{}"))
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = {x["user_id"]: x for x in
         QUERIES["regr_theil_sen"].fn(spark, d).collect()}[1]
    assert r["n_pairs"] == 45
    # true slope: 100 cents per 1e6 us -> 100 ppm of cents/us... spelled
    # as (1e6 * dv_c) div dt_us = (1000000 * 100) // 1000000 = 100
    assert r["theil_sen_ppm"] == 100


def test_quota_sums_to_budget(spark):
    """Allocations sum EXACTLY to the slot budget; every source gets at
    least its floor share; extras are 0/1."""
    rows = QUERIES["quota_largest_remainder"].fn(spark, SF).collect()
    assert sum(r["alloc"] for r in rows) == 1000
    for r in rows:
        assert r["alloc"] in (r["base_alloc"], r["base_alloc"] + 1)
        assert r["extra_slot"] in (0, 1)


def test_hash_collision_near_birthday_bound(spark):
    """16-bit truncation must collide, and within ~3x of the birthday
    bound (md5 behaves uniformly)."""
    r = QUERIES["hash_collision_audit"].fn(spark, SF).collect()[0]
    assert r["n"] == r["n_distinct_h"] + (r["n"] - r["n_distinct_h"])
    assert r["colliding_pairs"] > 0
    assert r["expected_pairs"] > 0
    assert r["colliding_pairs"] < 3 * r["expected_pairs"] + 10


def test_kendall_tau_identity_and_reversal(spark):
    """Crafted corpora: identical rankings give tau = +1e6, exactly
    reversed rankings give -1e6."""
    import tempfile

    def mk(rows):
        d = tempfile.mkdtemp(prefix="kt-")
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return d

    # concordant: more chars <=> more distinct tokens
    agree = mk([
        (i, " ".join(f"w{j}" for j in range(i + 2)), "en", "s", 100 + i)
        for i in range(12)
    ])
    r = QUERIES["eval_kendall_tau"].fn(spark, agree).collect()[0]
    assert r["n_discordant"] == 0 and r["tau_ppm"] == 1000000
    # reversed: more chars <=> FEWER distinct tokens
    disagree = mk([
        (i, " ".join(f"w{j}" for j in range(20 - i)), "en", "s", 100 + i)
        for i in range(12)
    ])
    r = QUERIES["eval_kendall_tau"].fn(spark, disagree).collect()[0]
    assert r["n_discordant"] == r["n_pairs"] and r["tau_ppm"] == -1000000


def test_benford_flags_uniform_prices(spark):
    """TPC-H uniform prices are NOT Benford: digit 1 must sit far below
    the 30.1% expectation (the audit's detection signature), and the
    actual ppm column must sum to ~1e6."""
    rows = QUERIES["dq_benford_digits"].fn(spark, SF).collect()
    by = {r["digit"]: r for r in rows}
    assert set(by) == set(range(1, 10))
    total_ppm = sum(r["actual_ppm"] for r in rows)
    assert 990000 <= total_ppm <= 1000000
    assert by[1]["actual_ppm"] < 250000  # uniform data fails Benford
    assert by[1]["abs_dev_ppm"] == abs(
        by[1]["actual_ppm"] - by[1]["benford_ppm"]
    )


def test_quantile_normalize_properties(spark):
    """Within each source, normalization preserves order; normalized
    values are drawn from the pooled value set; the max-rank doc of
    each source maps to (nearly) the pooled max."""
    rows = QUERIES["feature_quantile_normalize"].fn(spark, SF).collect()
    assert len(rows) == 500
    pooled = sorted(r["orig_chars"] for r in rows)
    by_source: dict[str, list] = {}
    for r in rows:
        assert r["norm_chars"] in pooled
        by_source.setdefault(r["source"], []).append(r)
    for source, rs in by_source.items():
        rs = sorted(rs, key=lambda r: (r["orig_chars"], r["doc_id"]))
        norms = [r["norm_chars"] for r in rs]
        assert norms == sorted(norms)  # monotone map
        assert norms[-1] == pooled[-1]  # top rank maps to pooled max


def test_shannon_code_invariants(spark):
    """Kraft validity (sum 2^-L <= 1), monotone lengths (more frequent
    tokens never get longer codes), and exact weighted arithmetic.
    NOTE the audit's honest finding on this corpus: the vocabulary is
    near-uniform, so the Shannon CEILING actually loses to fixed-length
    — which is precisely what the audit exists to reveal before anyone
    ships a frequency-aware token encoding."""
    rows = QUERIES["token_shannon_code_audit"].fn(spark, SF).collect()
    assert rows
    kraft = sum(2.0 ** -r["code_bits"] for r in rows)
    assert kraft <= 1.0 + 1e-9
    by_freq = sorted(rows, key=lambda r: -r["c"])
    for a, b in zip(by_freq, by_freq[1:]):
        assert a["code_bits"] <= b["code_bits"]
    for r in rows:
        assert r["weighted_bits"] == r["c"] * r["code_bits"]
        assert r["fixed_weighted_bits"] == r["c"] * r["fixed_bits"]


def test_shannon_code_skewed_corpus_saves(spark):
    """On a genuinely skewed vocabulary the Shannon code DOES beat
    fixed-length — the audit distinguishes the two regimes."""
    import tempfile

    d = tempfile.mkdtemp(prefix="shannon-")
    # one dominant token (1024 uses), 15 rare tokens (1 use each)
    text = " ".join(["hot"] * 1024 + [f"rare{i}" for i in range(15)])
    spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = QUERIES["token_shannon_code_audit"].fn(spark, d).collect()
    assert sum(r["weighted_bits"] for r in rows) < sum(
        r["fixed_weighted_bits"] for r in rows
    )


def test_phrase_query_matches_text_scan(spark):
    """Every reported (phrase, doc) count equals a direct text scan's
    adjacent-token count over the raw corpus."""
    import youtube_trending_data_pipeline_spark.catalog_analysis as ca
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    rows = QUERIES["index_phrase_query"].fn(spark, SF).collect()
    assert rows
    docs = {
        r["doc_id"]: [w for w in r["text"].lower().split(" ") if w]
        for r in _t(spark, SF, "documents").collect()
    }
    for r in rows:
        w1, w2 = r["phrase"].split(" ")
        toks = docs[r["doc_id"]]
        truth = sum(
            1 for a, b in zip(toks, toks[1:]) if a == w1 and b == w2
        )
        assert truth == r["n_occurrences"] > 0


def test_pq_recall_bounds_and_consistency(spark):
    """recall is n_overlap/k exactly; one row per brute-force query."""
    rows = QUERIES["sim_pq_recall_audit"].fn(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_overlap"] <= r["k"] == 3
        assert r["recall_ppm"] == (1000000 * r["n_overlap"]) // 3


def test_match_recognize_strict_adjacency(spark):
    """Crafted sequences: click,view,purchase adjacent -> 1 match; an
    intervening 'error' run breaks adjacency -> 0 matches (the strict
    semantics funnel_view_click_purchase does NOT have); repeated
    letters collapse into runs (click,click,view,purchase -> 1 match
    spanning 4 events)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="mr-")
    rows, eid = [], 0

    def add(u, types):
        nonlocal eid
        for i, ty in enumerate(types):
            eid += 1
            rows.append((eid, u, i * 1000000, ty, 0.0, "{}"))

    add(1, ["click", "view", "purchase"])
    add(2, ["click", "error", "view", "purchase"])
    add(3, ["click", "click", "view", "purchase"])
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r["user_id"]: r
        for r in QUERIES["pattern_match_recognize"].fn(spark, d).collect()
    }
    assert got[1]["n_matches"] == 1 and got[1]["events_spanned"] == 3
    assert 2 not in got
    assert got[3]["n_matches"] == 1 and got[3]["events_spanned"] == 4


def test_udaf_weighted_median_reference(spark):
    """The Arrow UDAF equals a plain-Python weighted-median over the
    same rows."""
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    rows = _t(spark, SF, "events").select(
        "event_type", "event_id", "value"
    ).collect()
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r["event_type"], []).append(
            (int(round(r["value"] * 100)), 1 + r["event_id"] % 3)
        )
    got = {
        r["event_type"]: r
        for r in QUERIES["udaf_weighted_median"].fn(spark, SF).collect()
    }
    for ty, vw in groups.items():
        vw.sort()
        total = sum(w for _, w in vw)
        run = 0
        for v, w in vw:
            run += w
            if 2 * run >= total:
                break
        assert got[ty]["weighted_median_c"] == v
        assert got[ty]["total_weight"] == total


def test_max_coverage_diminishing_returns(spark):
    """Submodularity: marginal gains are nonincreasing across rounds;
    picks are distinct docs; cumulative coverage is the prefix sum."""
    rows = sorted(
        QUERIES["select_greedy_max_coverage"].fn(spark, SF).collect(),
        key=lambda r: r["pick_round"],
    )
    assert [r["pick_round"] for r in rows] == [1, 2, 3, 4, 5]
    gains = [r["n_new"] for r in rows]
    assert gains == sorted(gains, reverse=True)
    assert len({r["doc_id"] for r in rows}) == 5
    run = 0
    for r in rows:
        run += r["n_new"]
        assert r["total_covered"] == run


def test_max_coverage_crafted_greedy_order(spark):
    """Crafted corpus where the greedy order is forced: doc 1 covers 4
    bigrams, doc 2 covers 3 NEW ones, doc 3 overlaps doc 1 entirely
    (gain 0 -> never picked while positive gains remain)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="mc-")
    docs = [
        (1, "a b c d e", "en", "s", 1),          # bigrams ab bc cd de
        (2, "p q r s", "en", "s", 1),            # pq qr rs
        (3, "a b c", "en", "s", 1),              # ab bc (subset of doc 1)
        (4, "x y", "en", "s", 1),                # xy
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = sorted(
        QUERIES["select_greedy_max_coverage"].fn(spark, d).collect(),
        key=lambda r: r["pick_round"],
    )
    assert [(r["doc_id"], r["n_new"]) for r in rows[:3]] == [
        (1, 4), (2, 3), (4, 1),
    ]


def test_backfill_ranges_cover_exactly_the_missing_days(spark):
    """Union of emitted ranges == the set of days absent between each
    type's first and last ingested day."""
    import youtube_trending_data_pipeline_spark.catalog_analysis_mining as ca
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    present: dict[str, set] = {}
    for r in (
        _t(spark, SF, "events")
        .where(F.col("user_id") % ca._BF_USER_MOD == 0)
        .selectExpr("event_type", "(ts div 1000) div 86400000000 AS day")
        .distinct()
        .collect()
    ):
        present.setdefault(r["event_type"], set()).add(r["day"])
    expected = set()
    for ty, days in present.items():
        for day in range(min(days), max(days) + 1):
            if day not in days:
                expected.add((ty, day))
    got = set()
    for r in QUERIES["backfill_gap_plan"].fn(spark, SF).collect():
        assert r["n_missing_days"] == r["gap_end_day"] - r["gap_start_day"] + 1
        for day in range(r["gap_start_day"], r["gap_end_day"] + 1):
            got.add((r["event_type"], day))
    assert got == expected and got


def test_join_cardinality_exact_and_estimate(spark):
    """exact_rows equals the true join count; the 1/16-key estimate is
    within 3x (uniform-ish frequencies at gate scale)."""
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    r = QUERIES["join_cardinality_estimate"].fn(spark, SF).collect()[0]
    truth = (
        _t(spark, SF, "lineitem")
        .join(
            _t(spark, SF, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .count()
    )
    assert r["exact_rows"] == truth
    assert 0 <= r["sampled_keys"] <= r["join_keys"]
    if r["sampled_keys"] == 0:
        # tiny key domains can miss the 1/16 sample entirely — the
        # estimator honestly reports 0 (and a real optimizer would fall
        # back to full stats below a key-count floor)
        assert r["est_rows"] == 0
    else:
        assert truth / 3 <= r["est_rows"] <= truth * 3


def test_seasonal_naive_perfect_on_periodic_series(spark):
    """Crafted exactly-weekly-periodic series: the lag-7 prediction is
    perfect (MAE 0); a deviating day scores exactly its deviation."""
    import tempfile

    d = tempfile.mkdtemp(prefix="snaive-")
    DAY = 86400000000
    rows, eid = [], 0
    for day in range(21):  # 3 identical weeks, one event per day
        eid += 1
        v = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0][day % 7]
        if day == 17:
            v += 5.0  # one anomaly in week 3
        rows.append((eid, 1, day * DAY, "view", v, "{}"))
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = QUERIES["forecast_seasonal_naive_mae"].fn(spark, d).collect()[0]
    assert r["n_scored_days"] == 14  # days 7..20
    assert r["total_abs_err_c"] == 500  # only day 17 deviates, by 5.00


def test_rfm_quintiles_balanced_and_coded(spark):
    """Each score dimension splits users into near-equal quintiles;
    segment code decomposes; score 1 holds the best values."""
    rows = QUERIES["rfm_segmentation"].fn(spark, SF).collect()
    n = len(rows)
    assert n == 15
    for dim in ("r_score", "f_score", "m_score"):
        counts: dict[int, int] = {}
        for r in rows:
            counts[r[dim]] = counts.get(r[dim], 0) + 1
        assert set(counts) == {1, 2, 3, 4, 5}
        assert max(counts.values()) - min(counts.values()) <= 1
    for r in rows:
        assert r["rfm_segment"] == (
            100 * r["r_score"] + 10 * r["f_score"] + r["m_score"]
        )
    best_f = max(rows, key=lambda r: r["frequency"])
    assert best_f["f_score"] == 1
    best_m = max(rows, key=lambda r: r["monetary_c"])
    assert best_m["m_score"] == 1


def test_overdispersion_vmr_reference(spark):
    """VMR matches a Python moment computation; crafted constant series
    has VMR exactly 0, a bursty one far above 1e6."""
    import tempfile

    d = tempfile.mkdtemp(prefix="vmr-")
    DAY = 86400000000
    rows, eid = [], 0
    # 'steady': exactly 3 events every day for 10 days -> variance 0
    for day in range(10):
        for _ in range(3):
            eid += 1
            rows.append((eid, 1, day * DAY, "steady", 0.0, "{}"))
    # 'bursty': 20 events on day 0, 1 event on days 1..9
    for day in range(10):
        for _ in range(20 if day == 0 else 1):
            eid += 1
            rows.append((eid, 1, day * DAY, "bursty", 0.0, "{}"))
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r["event_type"]: r
        for r in QUERIES["dq_overdispersion_vmr"].fn(spark, d).collect()
    }
    assert got["steady"]["vmr_ppm"] == 0
    # bursty: counts [20,1x9]: n=10, S1=29, S2=409 -> VMR = 3249/261 ~ 12.4
    assert got["bursty"]["var_num_scaled"] == 10 * 409 - 29 * 29
    assert got["bursty"]["vmr_ppm"] == (1000000 * 3249) // (9 * 29)
    assert got["bursty"]["vmr_ppm"] > 10000000


def test_apriori_downward_closure(spark):
    """Every reported triple's three face-pairs are themselves frequent
    (downward closure), and support never exceeds any face support."""
    import youtube_trending_data_pipeline_spark.catalog_analysis_mining as ca
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    docs = [
        set(w for w in r["text"].lower().split(" ") if w)
        for r in _t(spark, SF, "documents").collect()
    ]

    def supp(items):
        return sum(1 for d in docs if all(i in d for i in items))

    # r7: min-supports are corpus-relative ppm (the scale fix)
    pair_min = ca._AP_PAIR_PPM * len(docs) // 1_000_000
    triple_min = ca._AP_TRIPLE_PPM * len(docs) // 1_000_000
    rows = QUERIES["apriori_triple_itemsets"].fn(spark, SF).collect()
    assert rows
    for r in rows[:50]:  # spot-check a prefix; full check is O(n_docs) each
        tri = (r["w1"], r["w2"], r["w3"])
        assert r["w1"] < r["w2"] < r["w3"]
        assert r["support"] == supp(tri) >= triple_min
        for face in ((tri[0], tri[1]), (tri[0], tri[2]), (tri[1], tri[2])):
            assert supp(face) >= pair_min
            assert supp(face) >= r["support"]


def test_dbscan_labels_consistent_with_spatial_pairs(spark):
    """Labels agree with a Python recount over the hash points: core
    iff >= minPts neighbors; border iff non-core within a core's
    radius; everything else noise."""
    import hashlib

    import youtube_trending_data_pipeline_spark.catalog_analysis_mining as ca
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    SF01 = "/root/testdata/sf0.01"
    users = [
        r["user_id"]
        for r in _t(spark, SF01, "events").select("user_id").distinct().collect()
    ]

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    pts = {
        u: (h32(f"x:{u}") % ca._GEO_SPAN, h32(f"y:{u}") % ca._GEO_SPAN)
        for u in users
    }

    def close(a, b):
        dx, dy = pts[a][0] - pts[b][0], pts[a][1] - pts[b][1]
        return dx * dx + dy * dy <= ca._GEO_R2

    nb = {u: sum(1 for v in users if v != u and close(u, v)) for u in users}
    cores = {u for u in users if nb[u] >= ca._DB_MIN_PTS}
    border = {
        u
        for u in users
        if u not in cores and any(close(u, c) for c in cores if c != u)
    }
    got = {
        r["user_id"]: r
        for r in QUERIES["geo_dbscan_core_points"].fn(spark, SF01).collect()
    }
    assert len(got) == len(users)
    labels = {"core", "border", "noise"}
    seen = set()
    for u in users:
        r = got[u]
        assert r["n_neighbors"] == nb[u]
        expect = (
            "core" if u in cores else "border" if u in border else "noise"
        )
        assert r["label"] == expect
        seen.add(r["label"])
    assert seen == labels  # all three classes actually occur at sf0.01


def test_carried_state_folds_partition_invariant(spark):
    """The Arrow carried-state kernels (holt_linear_fold) must produce
    BIT-IDENTICAL results regardless of the input's physical layout —
    the repartition("user_id") + sortWithinPartitions contract is what
    guarantees it; this drives the same entry through pathological
    layouts (1 partition, 13 partitions, reverse-sorted input) and
    diffs."""
    import tempfile

    from youtube_trending_data_pipeline_spark.catalog import t as _t

    base = sorted(
        (r["user_id"], r["n_events"], r["level_c"], r["trend_c"])
        for r in QUERIES["holt_linear_fold"].fn(spark, SF).collect()
    )
    # rewrite the same events with hostile layouts, rerun the ENTRY
    src = _t(spark, SF, "events")
    for layout in ("one", "many", "reversed"):
        d = tempfile.mkdtemp(prefix=f"fold-{layout}-")
        df = src
        if layout == "one":
            df = df.coalesce(1)
        elif layout == "many":
            df = df.repartition(13)
        else:
            df = df.orderBy(F.desc("ts"), F.desc("event_id"))
        # write as micros timestamps (what t() sniffs back in)
        df.selectExpr(
            "event_id",
            "timestamp_micros(cast(ts div 1000 as long)) AS ts",
            "user_id", "event_type", "value", "props",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = sorted(
            (r["user_id"], r["n_events"], r["level_c"], r["trend_c"])
            for r in QUERIES["holt_linear_fold"].fn(spark, d).collect()
        )
        assert got == base, layout


def test_sobel_flat_vs_edge_images(spark):
    """Crafted assets: a perfectly flat image has edge energy 0; a
    hard vertical step has the textbook Sobel response (|gx| = 4*step
    at every interior pixel, gy = 0); corrupt bytes quarantine."""
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        image_sobel_energy,
    )

    def ppm(pixels):
        head = b"P6\n4 4\n255\n"
        return head + bytes(b for px in pixels for b in px)

    flat = ppm([(100, 100, 100)] * 16)
    # vertical step: left two columns 0, right two columns 200
    step = ppm(
        [(0, 0, 0) if x < 2 else (200, 200, 200)
         for y in range(4) for x in range(4)]
    )
    media = spark.createDataFrame(
        [
            ("flat", "image", bytearray(flat)),
            ("step", "image", bytearray(step)),
            ("corrupt", "image", bytearray(b"NOTPPM")),
        ],
        "asset_id string, media_type string, content binary",
    )
    got = {r["asset_id"]: r for r in image_sobel_energy(media).collect()}
    assert got["flat"]["edge_energy"] == 0
    assert got["flat"]["n_interior"] == 4
    # step column boundary runs between x=1 and x=2: each interior pixel
    # sees gx = 4*200 or 4*200 depending on position; verify against a
    # direct Python conv
    gray = [0 if x < 2 else 200 for y in range(4) for x in range(4)]

    def g(x, y):
        return gray[y * 4 + x]

    expect_energy = 0
    for y in (1, 2):
        for x in (1, 2):
            gx = (-g(x-1,y-1) + g(x+1,y-1) - 2*g(x-1,y) + 2*g(x+1,y)
                  - g(x-1,y+1) + g(x+1,y+1))
            gy = (-g(x-1,y-1) - 2*g(x,y-1) - g(x+1,y-1)
                  + g(x-1,y+1) + 2*g(x,y+1) + g(x+1,y+1))
            expect_energy += abs(gx) + abs(gy)
    assert got["step"]["edge_energy"] == expect_energy > 0
    assert got["corrupt"]["edge_energy"] is None  # quarantined


def test_audio_zcr_crafted_waveforms(spark):
    """Crafted WAVs: an alternating-sign square wave crosses at every
    step; a constant-sign ramp never crosses; corrupt bytes
    quarantine."""
    import struct

    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        audio_zero_crossings,
    )

    def wav(samples):
        hdr = (
            b"RIFF" + struct.pack("<I", 36 + 2 * len(samples)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, 1, 1000, 2000, 2, 16)
            + b"data" + struct.pack("<I", 2 * len(samples))
        )
        return hdr + b"".join(struct.pack("<h", s) for s in samples)

    media = spark.createDataFrame(
        [
            ("alt", "audio", bytearray(wav([500, -500, 500, -500, 500]))),
            ("ramp", "audio", bytearray(wav([10, 20, 30, 40]))),
            ("zero_edge", "audio", bytearray(wav([0, -1, 0, 1]))),
            ("corrupt", "audio", bytearray(b"NOTWAV")),
        ],
        "asset_id string, media_type string, content binary",
    )
    got = {r["asset_id"]: r for r in audio_zero_crossings(media).collect()}
    assert got["alt"]["zero_crossings"] == 4
    assert got["alt"]["abs_energy"] == 2500
    assert got["ramp"]["zero_crossings"] == 0
    # sign(0) is non-negative: 0->-1 crosses, -1->0 crosses, 0->1 doesn't
    assert got["zero_edge"]["zero_crossings"] == 2
    assert got["corrupt"]["zero_crossings"] is None


def test_sequence_audit_detects_planted_defects(spark):
    """Crafted ids with one duplicate and one hole: both counted
    exactly, gap-free flag off; a clean run flags on."""
    import tempfile

    def mk(ids):
        d = tempfile.mkdtemp(prefix="seq-")
        rows = [(i, 1, n * 1000000, "view", 0.0, "{}")
                for n, i in enumerate(ids)]
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts_us long, "
            "event_type string, value double, props string"
        ).selectExpr(
            "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
            "event_type", "value", "props",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        return d

    bad = QUERIES["dq_sequence_audit"].fn(
        spark, mk([10, 11, 11, 13, 14])  # dup 11, missing 12
    ).collect()[0]
    assert bad["n_duplicate_rows"] == 1
    assert bad["n_missing_ids"] == 1
    assert bad["is_gap_free"] == 0
    good = QUERIES["dq_sequence_audit"].fn(
        spark, mk([5, 6, 7, 8])
    ).collect()[0]
    assert good["is_gap_free"] == 1
    assert good["n_duplicate_rows"] == good["n_missing_ids"] == 0


def test_video_motion_translation_invisible_to_mean(spark):
    """Crafted 2x2 clip: frame 1 is frame 0 with two pixel values
    SWAPPED (an object 'moving') — the frame mean is identical
    (mean_abs_delta == 0) while per-pixel SAD fires. The case that
    justifies SAD over mean-delta scene detection."""
    from youtube_trending_data_pipeline_spark.operators.multimodal import (
        video_motion_sad,
    )

    def y4m(frames):
        head = b"YUV4MPEG2 W2 H2 F10:1 Ip A1:1 C420\n"
        body = b""
        for luma in frames:
            body += b"FRAME\n" + bytes(luma) + bytes([128, 128])
        return head + body

    moving = y4m([[200, 10, 10, 10], [10, 10, 200, 10]])  # swap: same sum
    static = y4m([[50, 50, 50, 50], [50, 50, 50, 50]])
    media = spark.createDataFrame(
        [
            ("moving", "video", bytearray(moving)),
            ("static", "video", bytearray(static)),
        ],
        "asset_id string, media_type string, content binary",
    )
    got = {r["asset_id"]: r for r in video_motion_sad(media).collect()}
    assert got["moving"]["mean_abs_delta"] == 0
    assert got["moving"]["sad"] == 380  # |10-200| + |200-10|
    assert got["static"]["sad"] == 0


def test_scd2_asof_exactly_one_version_per_probe(spark):
    """For every probe instant, each user with history started by then
    resolves to EXACTLY ONE version (interval partitioning), and the
    resolved version is the latest change at-or-before the probe."""
    rows = QUERIES["scd2_asof_lookup"].fn(spark, SF).collect()
    seen: dict[tuple, int] = {}
    for r in rows:
        key = (r["probe_ppm"], r["user_id"])
        seen[key] = seen.get(key, 0) + 1
    assert seen and all(v == 1 for v in seen.values())
    # at the latest probe, every user resolves (all histories started)
    n_users = len({u for (_, u) in seen})
    last = max(p for (p, _) in seen)
    assert sum(1 for (p, _) in seen if p == last) == n_users


def test_kwic_crafted_contexts(spark):
    """Crafted doc: term at start, middle, and end — context windows
    clamp correctly and reconstruct the original neighborhoods."""
    import tempfile

    d = tempfile.mkdtemp(prefix="kwic-")
    docs = [(1, "spark a b spark c d spark", "en", "s", 1)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = sorted(
        QUERIES["text_kwic_concordance"].fn(spark, d).collect(),
        key=lambda r: r["pos"],
    )
    assert [(r["pos"], r["left_ctx"], r["right_ctx"]) for r in rows] == [
        (1, "", "a b"),
        (4, "a b", "c d"),
        (7, "c d", ""),
    ]


def test_seasonal_anomaly_flags_planted_spike(spark):
    """Crafted weekly-periodic series with one violent spike: exactly
    that day is flagged, nothing else."""
    import tempfile

    d = tempfile.mkdtemp(prefix="anom-")
    DAY = 86400000000
    rows, eid = [], 0
    for day in range(28):  # 4 identical weeks
        v = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0][day % 7]
        if day == 20:
            v += 500.0  # violent spike in week 3
        eid += 1
        rows.append((eid, 1, day * DAY, "view", v, "{}"))
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = QUERIES["anomaly_seasonal_residual"].fn(spark, d).collect()
    # the spike day AND its echo a week later (residual = -500) flag
    days = sorted(r["day"] for r in got)
    assert days == [20, 27]
    by = {r["day"]: r for r in got}
    assert by[20]["residual_c"] == 50000
    assert by[27]["residual_c"] == -50000


def test_markov_stationary_mass_and_positivity(spark):
    """The iterated vector keeps (almost) full ppm mass — truncating
    division can only leak a few ppm per round — and every state stays
    positive on this fully-connected chain."""
    rows = QUERIES["markov_stationary_iter"].fn(spark, SF).collect()
    assert len(rows) == 5
    total = sum(r["pi_ppm"] for r in rows)
    assert 990000 <= total <= 1000000
    assert all(r["pi_ppm"] > 0 for r in rows)


def test_haar_invertibility(spark):
    """The unnormalized Haar pyramid is invertible: reconstructing the
    8 daily values from (a3, d3, d2_*, d1_*) recovers the original
    series exactly (integer arithmetic round-trips)."""
    from youtube_trending_data_pipeline_spark.catalog import cents, t as _t

    daily = (
        _t(spark, SF, "events")
        .selectExpr(
            "event_type",
            "(ts div 1000) div 86400000000 AS day",
            "CAST(ROUND(value * 100) AS BIGINT) AS c",
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
        .orderBy("event_type", "day")
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append(r["v"])
    coefs: dict[str, dict] = {}
    for r in QUERIES["haar_transform_daily"].fn(spark, SF).collect():
        coefs.setdefault(r["event_type"], {})[(r["coef"], r["idx"])] = r[
            "value_c"
        ]
    for ty, c in coefs.items():
        a2 = [
            (c[("a3", 0)] + c[("d3", 0)]) // 2,
            (c[("a3", 0)] - c[("d3", 0)]) // 2,
        ]
        a1 = []
        for i in range(2):
            a1 += [
                (a2[i] + c[("d2", i)]) // 2,
                (a2[i] - c[("d2", i)]) // 2,
            ]
        x = []
        for i in range(4):
            x += [
                (a1[i] + c[("d1", i)]) // 2,
                (a1[i] - c[("d1", i)]) // 2,
            ]
        assert x == series[ty][:8]


def test_ams_f2_estimator_sanity(spark):
    """The 8-estimator mean lands within a factor of ~4 of exact F2 at
    gate scale (AMS variance is 2*F2^2/k; this corpus' flat counts are
    the friendly case), and the exact side matches a Python recount."""
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    r = QUERIES["sketch_ams_f2"].fn(spark, SF).collect()[0]
    from collections import Counter

    counts = Counter(
        w
        for row in _t(spark, SF, "documents").collect()
        for w in row["text"].lower().split(" ")
        if w
    )
    assert r["f2_exact"] == sum(c * c for c in counts.values())
    assert r["f2_exact"] // 4 <= r["f2_est"] <= r["f2_exact"] * 4
    assert r["ratio_ppm"] == (1000000 * r["f2_est"]) // r["f2_exact"]


def test_lis_matches_patience_reference(spark):
    """Per-user LIS equals the O(n log n) patience-sorting reference
    over the same capped series."""
    import bisect

    import youtube_trending_data_pipeline_spark.catalog_analysis_series as ca
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    rows = (
        _t(spark, SF, "events")
        .selectExpr(
            "user_id", "event_id", "ts",
            "CAST(ROUND(value * 100) AS BIGINT) AS val",
        )
        .collect()
    )
    series: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        series.setdefault(r["user_id"], []).append(r["val"])

    def lis(vals):
        tails: list[int] = []
        for v in vals:
            i = bisect.bisect_left(tails, v)
            if i == len(tails):
                tails.append(v)
            else:
                tails[i] = v
        return len(tails)

    got = {
        r["user_id"]: r["lis_len"]
        for r in QUERIES["seq_lis_length"].fn(spark, SF).collect()
    }
    for u, vals in series.items():
        assert got[u] == lis(vals[: ca._LIS_CAP]), u


def test_knapsack_optimal_dominates_greedy_and_matches_bruteforce(spark):
    """optimal >= greedy, and optimal equals the 2^12 brute force over
    the same items."""
    from itertools import combinations

    import youtube_trending_data_pipeline_spark.catalog_analysis_series as ca
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    docs = sorted(
        (
            (r["doc_id"],
             len(set(w for w in r["text"].lower().split(" ") if w)),
             len([w for w in r["text"].lower().split(" ") if w]) // 8 + 1)
            for r in _t(spark, SF, "documents").collect()
        ),
    )[: ca._KS_ITEMS]
    best = 0
    items = [(v, w) for (_, v, w) in docs]
    for k in range(len(items) + 1):
        for combo in combinations(items, k):
            if sum(w for _, w in combo) <= ca._KS_CAP:
                best = max(best, sum(v for v, _ in combo))
    r = QUERIES["budget_knapsack_optimal"].fn(spark, SF).collect()[0]
    assert r["optimal_value"] == best
    assert r["greedy_value"] <= r["optimal_value"]


def test_rich_club_bounds(spark):
    """0 <= internal <= possible; phi arithmetic exact; possible is
    C(20,2)."""
    r = QUERIES["graph_rich_club"].fn(spark, SF).collect()[0]
    assert r["possible_edges"] == 190
    assert 0 <= r["internal_edges"] <= r["possible_edges"]
    assert r["phi_ppm"] == (1000000 * r["internal_edges"]) // 190


def test_fm_rho_reference(spark):
    """max_rho matches a Python recount of lowest-set-bit positions and
    the raw estimate is exactly 2^max_rho."""
    import hashlib

    from youtube_trending_data_pipeline_spark.catalog import t as _t

    elems = {
        f"{r['user_id']}:{r['day']}"
        for r in _t(spark, SF, "events")
        .selectExpr("user_id", "(ts div 1000) div 86400000000 AS day")
        .distinct()
        .collect()
    }

    def rho(s):
        h = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
        return 33 if h == 0 else (h & -h).bit_length()

    expect = max(rho(s) for s in elems)
    r = QUERIES["sketch_fm_rho_max"].fn(spark, SF).collect()[0]
    assert r["max_rho"] == expect
    assert r["fm_raw_estimate"] == 1 << expect
    assert r["exact_distinct"] == len(elems)


def test_weekday_profile_shares_sum_and_calendar(spark):
    """Per type, weekday shares sum to ~1e6, all 7 weekdays present,
    and the epoch-day weekday arithmetic matches Python's calendar."""
    import datetime as dt

    from youtube_trending_data_pipeline_spark.catalog import t as _t

    rows = QUERIES["weekday_profile"].fn(spark, SF).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for ty, rs in by_type.items():
        assert len(rs) == 7
        total = sum(r["share_ppm"] for r in rs)
        assert 999990 <= total <= 1000000
    # spot-check the (day + 4) % 7 convention: epoch day 0 = Thursday
    sample = (
        _t(spark, SF, "events")
        .selectExpr("(ts div 1000) div 86400000000 AS day")
        .limit(5)
        .collect()
    )
    for r in sample:
        d = dt.date(1970, 1, 1) + dt.timedelta(days=r["day"])
        # Python: Monday=0..Sunday=6; ours: Sunday=0..Saturday=6
        assert (r["day"] + 4) % 7 == (d.weekday() + 1) % 7


def test_source_jaccard_bounds_and_symmetric_coverage(spark):
    """C(20,2) = 190 pairs, canonical order, 0 < jaccard <= 1e6, and
    intersection never exceeds either side."""
    rows = QUERIES["source_token_jaccard"].fn(spark, SF).collect()
    assert len(rows) == 190
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert 0 <= r["n_common"] <= min(r["n_a"], r["n_b"])
        assert 0 <= r["jaccard_ppm"] <= 1000000


def test_er_clusters_transitivity_and_canonical_ids(spark):
    """Every cluster's entity_id is its minimum member key; every
    matched pair lands in the same entity (transitivity holds)."""
    pairs = {
        (r["a_key"], r["b_key"])
        for r in QUERIES["er_blocked_match_score"].fn(spark, SF).collect()
    }
    rows = QUERIES["er_entity_clusters"].fn(spark, SF).collect()
    ent = {r["c_custkey"]: r["entity_id"] for r in rows}
    by_entity: dict[int, set] = {}
    for r in rows:
        by_entity.setdefault(r["entity_id"], set()).add(r["c_custkey"])
    for eid, members in by_entity.items():
        assert eid == min(members)
    for a, b in pairs:
        assert ent[a] == ent[b]
    sizes = {r["c_custkey"]: r["cluster_size"] for r in rows}
    for eid, members in by_entity.items():
        for m in members:
            assert sizes[m] == len(members)


def test_huffman_kraft_equality_and_optimality(spark):
    """Huffman satisfies Kraft with EQUALITY (sum 2^-L == 1) and its
    total weighted bits never exceed the Shannon audit's."""
    h = QUERIES["token_huffman_code_audit"].fn(spark, SF).collect()
    assert h
    kraft = sum(2.0 ** -r["code_bits"] for r in h)
    assert abs(kraft - 1.0) < 1e-9
    s = QUERIES["token_shannon_code_audit"].fn(spark, SF).collect()
    assert sum(r["weighted_bits"] for r in h) <= sum(
        r["weighted_bits"] for r in s
    )
    # same vocabulary on both sides
    assert {r["tok"] for r in h} == {r["tok"] for r in s}


def test_huffman_vocab_cap_raises(spark, monkeypatch):
    """VERDICT r9 item 5: the driver-side Huffman collect is bounded —
    a vocabulary past the cap raises loudly on BOTH engines instead of
    OOMing the driver or silently truncating."""
    import pytest

    from youtube_trending_data_pipeline_spark import catalog_analysis_series as s

    monkeypatch.setattr(s, "_HUFFMAN_VOCAB_CAP", 3)
    with pytest.raises(ValueError, match="distinct tokens"):
        QUERIES["token_huffman_code_audit"].fn(spark, SF).collect()
    with pytest.raises(ValueError, match="distinct tokens"):
        s._huffman_oracle(SF)
    # guard passes at the boundary
    s._huffman_vocab_guard(3)


def test_zonemap_layout_matches_ntile_window(spark, monkeypatch):
    """r12 100x regression: the distributed bucket-offset file
    assignment must equal NTILE over the global order EXACTLY — the
    spark_partition_id() predecessor produced a phantom 65th file at
    60 M rows when AQE coalesced the exchange's two readers
    differently. Pin against a real single-window NTILE on a fixture
    with unique days (day -> file_id is then a bijection), covering
    both layouts and a remainder-producing file count (1000 % 7 != 0
    exercises the cut branch)."""
    from pyspark.sql import Window

    from youtube_trending_data_pipeline_spark import catalog_analysis as ca

    # day unique (bijection key), okey a permutation (tie-free orders)
    li = spark.createDataFrame(
        [(i, (i * 389) % 1000, i % 3 + 1) for i in range(1000)],
        "day long, l_orderkey long, l_linenumber long",
    )
    for n_files in (7, 64):
        monkeypatch.setattr(ca, "_ZM_FILES", n_files)
        for label, order_cols, l1, l2 in [
            ("ingest", ["l_orderkey", "l_linenumber"],
             [F.expr("l_orderkey div 256")], [F.expr("l_orderkey div 16")]),
            ("sorted", ["day", "l_orderkey", "l_linenumber"],
             [F.col("day")], [F.expr("l_orderkey div 16")]),
        ]:
            got = {
                r["day"]: r["file_id"]
                for r in ca._zm_layout_files(
                    li, label, order_cols, l1, l2
                ).collect()
            }
            want = {
                r["day"]: r["nt"]
                for r in li.select(
                    "day",
                    F.ntile(n_files)
                    .over(Window.orderBy(*order_cols))
                    .alias("nt"),
                ).collect()
            }
            assert got == want, (label, n_files)


def test_huffman_capped_rest_merge_and_kraft(spark):
    """Production form (r12 100x sweep): k=16 sits below the gate
    corpus' 31-symbol vocabulary, so the tail-merge path runs at every
    SF — top-15 tokens keep their own leaves, the '<rest>' row carries
    the exact summed tail count, and Kraft holds with equality over
    the capped tree."""
    h = QUERIES["token_huffman_code_audit_capped"].fn(spark, SF).collect()
    full = QUERIES["token_huffman_code_audit"].fn(spark, SF).collect()
    by_tok = {r["tok"]: r for r in h}
    assert "<rest>" in by_tok and len(h) == 16
    kraft = sum(2.0 ** -r["code_bits"] for r in h)
    assert abs(kraft - 1.0) < 1e-9
    ordered = sorted(full, key=lambda r: (-r["c"], r["tok"]))
    assert set(by_tok) - {"<rest>"} == {r["tok"] for r in ordered[:15]}
    assert by_tok["<rest>"]["c"] == sum(r["c"] for r in ordered[15:])
    full_c = {r["tok"]: r["c"] for r in full}
    for r in h:
        if r["tok"] != "<rest>":
            assert r["c"] == full_c[r["tok"]]


def test_huffman_capped_equals_parent_when_not_binding(spark, monkeypatch):
    """With k above the vocabulary size the capped entry IS the parent:
    no rest leaf, identical (tok, count, length) rows."""
    from youtube_trending_data_pipeline_spark import (
        catalog_analysis_series as s,
    )

    monkeypatch.setattr(s, "_HUFFMAN_CAPPED_K", 4096)
    h = QUERIES["token_huffman_code_audit_capped"].fn(spark, SF).collect()
    full = QUERIES["token_huffman_code_audit"].fn(spark, SF).collect()
    assert sorted((r["tok"], r["c"], r["code_bits"]) for r in h) == sorted(
        (r["tok"], r["c"], r["code_bits"]) for r in full
    )


def test_huffman_capped_rest_collision_raises(spark):
    """The reserved '<rest>' label appearing as a REAL corpus token
    raises loudly on both engines instead of silently merging."""
    import tempfile

    import pytest

    from youtube_trending_data_pipeline_spark import (
        catalog_analysis_series as s,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="huffcap-")
    # single-file parquet (not a Spark directory) so the generated
    # oracle's DuckDB read sees the same path as the Spark entry
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(6)),
                "text": [f"alpha beta <rest> w{i}" for i in range(6)],
                "lang": ["en"] * 6,
                "source": ["s"] * 6,
                "n_chars": [20] * 6,
            }
        ),
        f"{d}/documents.parquet",
    )
    with pytest.raises(ValueError, match="reserved rest label"):
        QUERIES["token_huffman_code_audit_capped"].fn(spark, d).collect()
    with pytest.raises(ValueError, match="reserved rest label"):
        s._huffman_capped_oracle(d)


def test_kappa_perfect_and_chance_extremes(spark):
    """Crafted corpora: identical labelers give kappa = 1e6; a labeler
    pair whose agreement exactly equals chance gives kappa ~ 0."""
    import tempfile

    def mk(rows):
        d = tempfile.mkdtemp(prefix="kappa-")
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return d

    # perfect: n_chars and distinct-token bands always align
    # (>=28 distinct toks <-> >=300 chars; <20 <-> <150)
    long_text = " ".join(f"w{i}" for i in range(30))
    short_text = "a b c"
    perfect = mk(
        [(i, long_text, "en", "s", 400) for i in range(10)]
        + [(i + 10, short_text, "en", "s", 50) for i in range(10)]
    )
    r = QUERIES["eval_cohens_kappa"].fn(spark, perfect).collect()[0]
    assert r["kappa_ppm"] == 1000000 and r["po_ppm"] == 1000000
    # anti-correlated on a 2x2 balanced grid: agreement = 50% = chance
    anti = mk(
        [(i, long_text, "en", "s", 400) for i in range(5)]       # agree long
        + [(i + 5, long_text, "en", "s", 50) for i in range(5)]  # b=long a=short
        + [(i + 10, short_text, "en", "s", 400) for i in range(5)]
        + [(i + 15, short_text, "en", "s", 50) for i in range(5)]
    )
    r = QUERIES["eval_cohens_kappa"].fn(spark, anti).collect()[0]
    assert abs(r["kappa_ppm"]) < 10000  # ~0: no better than chance


def test_tv_distance_extremes(spark):
    """Identical halves -> TV 0; disjoint type sets -> TV = 1e6."""
    import tempfile

    DAY = 86400000000

    def mk(rows):
        d = tempfile.mkdtemp(prefix="tv-")
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts_us long, "
            "event_type string, value double, props string"
        ).selectExpr(
            "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
            "event_type", "value", "props",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        return d

    same = mk(
        [(i, 1, 0 * DAY + i, ["a", "b"][i % 2], 0.0, "{}") for i in range(10)]
        + [(i + 10, 1, 10 * DAY + i, ["a", "b"][i % 2], 0.0, "{}")
           for i in range(10)]
    )
    r = QUERIES["drift_tv_distance"].fn(spark, same).collect()[0]
    assert r["tv_ppm"] == 0
    disjoint = mk(
        [(i, 1, 0 * DAY + i, "a", 0.0, "{}") for i in range(10)]
        + [(i + 10, 1, 10 * DAY + i, "b", 0.0, "{}") for i in range(10)]
    )
    r = QUERIES["drift_tv_distance"].fn(spark, disjoint).collect()[0]
    assert r["tv_ppm"] == 1000000


def test_sorted_neighborhood_candidate_bound(spark):
    """Candidate count is exactly sum over i of min(w-1, n-i) — linear
    in n — and hash-overlap matches are a subset of window matches."""
    import youtube_trending_data_pipeline_spark.catalog_analysis_series as ca

    r = QUERIES["er_sorted_neighborhood"].fn(spark, SF).collect()[0]
    n = 150  # customers at sf0.001
    w = ca._SN_WINDOW
    expected_cands = sum(min(w - 1, n - i) for i in range(1, n + 1))
    assert r["n_candidates"] == expected_cands
    assert 0 <= r["n_matches_also_in_hash_block"] <= r["n_matches"]


def test_dorfman_extremes(spark):
    """All-clean corpus: pooled cost = pools only (huge win). All-dirty:
    pooled cost = pools + everything (pooling LOSES) — the audit
    separates both regimes."""
    import tempfile

    def mk(texts):
        d = tempfile.mkdtemp(prefix="dorf-")
        spark.createDataFrame(
            [(i, t_, "en", "s", len(t_)) for i, t_ in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return d

    long_text = " ".join(f"w{i}" for i in range(40))  # passes (>= 30 toks)
    clean = mk([long_text] * 64)
    r = QUERIES["pooled_screening_dorfman"].fn(spark, clean).collect()[0]
    assert r["n_positive_pools"] == 0
    assert r["tests_pooled"] == r["n_pools"] < r["tests_individual"]
    dirty = mk(["a b"] * 64)  # every doc fails the screen
    r = QUERIES["pooled_screening_dorfman"].fn(spark, dirty).collect()[0]
    assert r["n_positive_pools"] == r["n_pools"]
    assert r["tests_pooled"] == r["n_pools"] + r["tests_individual"]
    assert r["cost_ratio_ppm"] > 1000000  # pooling loses when all dirty


def test_cache_curve_monotone(spark):
    """Bigger cache never hits less; hit_ppm is exact arithmetic; the
    32-key cache on a 100-key uniform-ish domain stays below 1e6."""
    rows = sorted(
        QUERIES["cache_static_hitrate_curve"].fn(spark, SF).collect(),
        key=lambda r: r["cache_size"],
    )
    assert [r["cache_size"] for r in rows] == [8, 16, 32]
    for a, b in zip(rows, rows[1:]):
        assert b["n_hits"] >= a["n_hits"]
        assert a["n_accesses"] == b["n_accesses"]
    for r in rows:
        assert r["hit_ppm"] == (1000000 * r["n_hits"]) // r["n_accesses"]
    assert rows[-1]["hit_ppm"] < 1000000


def test_optimal_stopping_crafted_sequences(spark):
    """Crafted arrivals: best-in-sample-phase -> forced last pick; best
    right after cutoff -> picked and optimal; rising sequence -> first
    post-cutoff new-max is picked (rule fires early, possibly
    suboptimal) — the rule's exact semantics, not just win rates."""
    import tempfile

    d = tempfile.mkdtemp(prefix="secretary-")
    rows, eid = [], 0

    def add(u, vals):
        nonlocal eid
        for i, v in enumerate(vals):
            eid += 1
            rows.append((eid, u, i * 1000000, "view", float(v), "{}"))

    add(1, [90, 1, 2, 3, 4, 5, 6, 7])        # best in sample -> forced last (7)
    add(2, [1, 2, 3, 4, 90, 5, 6, 7])        # best right after cutoff -> 90
    add(3, [1, 2, 3, 4, 5, 6, 7, 8])         # rising: picks 5 (first>4), best 8
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r["user_id"]: r for r in
           QUERIES["optimal_stopping_audit"].fn(spark, d).collect()}
    assert got[1]["picked_c"] == 700 and got[1]["got_best"] == 0
    assert got[2]["picked_c"] == 9000 and got[2]["got_best"] == 1
    assert got[3]["picked_c"] == 500 and got[3]["got_best"] == 0


def test_simpson_crafted_reversal(spark):
    """Crafted two-group data where every group trends DOWN but the
    pooled trend is UP (groups shift level across time) — the audit
    must flag the reversal."""
    import tempfile

    d = tempfile.mkdtemp(prefix="simpson-")
    DAY = 86400000000
    rows, eid = [], 0
    # group 'a': early days, high level, falling (10, 9, 8...)
    for i in range(5):
        eid += 1
        rows.append((eid, 1, i * DAY, "a", float(10 - i), "{}"))
    # group 'b': later days, MUCH higher level, falling (100, 99, ...)
    for i in range(5):
        eid += 1
        rows.append((eid, 1, (i + 10) * DAY, "b", float(100 - i), "{}"))
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r["grp"]: r for r in
           QUERIES["simpson_paradox_audit"].fn(spark, d).collect()}
    assert got["a"]["group_trend_sign"] == -1
    assert got["b"]["group_trend_sign"] == -1
    assert got["a"]["pooled_trend_sign"] == 1  # level shift wins pooled
    assert got["a"]["sign_reversed"] == 1 and got["b"]["sign_reversed"] == 1


def test_decayed_sum_halving_semantics(spark):
    """Crafted ages: same-day events count fully, one-half-life events
    halve (integer shift), ancient events contribute zero."""
    import tempfile

    d = tempfile.mkdtemp(prefix="decay-")
    DAY = 86400000000
    rows = [
        (1, 1, 100 * DAY, "view", 8.0, "{}"),   # age 0 -> 800
        (2, 1, 93 * DAY, "view", 8.0, "{}"),    # age 7 -> 400
        (3, 1, 86 * DAY, "view", 8.0, "{}"),    # age 14 -> 200
        (4, 1, 0 * DAY, "view", 8.0, "{}"),     # age 100 -> 800 >> 14 = 0
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = QUERIES["decayed_value_sum"].fn(spark, d).collect()[0]
    assert r["raw_sum_c"] == 3200
    assert r["decayed_sum_c"] == 800 + 400 + 200 + 0


def test_interarrival_percentile_ordering(spark):
    """p50 <= p90 <= p99 <= max per type; gap counts = events - 1."""
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    counts = {
        r["event_type"]: r["count"]
        for r in _t(spark, SF, "events").groupBy("event_type").count().collect()
    }
    rows = QUERIES["interarrival_percentiles"].fn(spark, SF).collect()
    assert len(rows) == len(counts)
    for r in rows:
        assert r["n_gaps"] == counts[r["event_type"]] - 1
        assert r["p50_us"] <= r["p90_us"] <= r["p99_us"] <= r["max_us"]


def test_jackknife_influence_signs(spark):
    """Dropping a below-average cohort RAISES the mean (positive
    influence) and vice versa; all cohorts present; overall mean
    constant across rows."""
    rows = QUERIES["metric_jackknife_cohorts"].fn(spark, SF).collect()
    assert len(rows) == 10
    overall = {r["overall_mean_c"] for r in rows}
    assert len(overall) == 1
    for r in rows:
        assert r["influence_c"] == r["loo_mean_c"] - r["overall_mean_c"]


def test_time_to_convert_strictness(spark):
    """Crafted users: purchase BEFORE first view never converts; exact
    durations rank correctly."""
    import tempfile

    d = tempfile.mkdtemp(prefix="ttc-")
    MIN = 60000000
    rows = [
        (1, 1, 0 * MIN, "view", 0.0, "{}"),
        (2, 1, 10 * MIN, "purchase", 0.0, "{}"),   # converts in 10 min
        (3, 2, 5 * MIN, "purchase", 0.0, "{}"),    # purchase BEFORE view
        (4, 2, 6 * MIN, "view", 0.0, "{}"),
        (5, 3, 0 * MIN, "view", 0.0, "{}"),
        (6, 3, 30 * MIN, "purchase", 0.0, "{}"),   # converts in 30 min
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = QUERIES["funnel_time_to_convert"].fn(spark, d).collect()[0]
    assert r["n_entered"] == 3
    assert r["n_converted"] == 2  # user 2 excluded: strict ordering
    assert r["p50_us"] == 10 * MIN
    assert r["max_us"] == 30 * MIN


def test_luhn_catches_every_planted_corruption(spark):
    """All clean ids validate; every corrupted id fails (single-digit
    errors are Luhn's guarantee): n_valid = n_ids - n_corrupted and
    n_missed = 0. Cross-checked against Python's Luhn."""
    from youtube_trending_data_pipeline_spark.catalog import t as _t

    r = QUERIES["dq_luhn_checksum"].fn(spark, SF).collect()[0]
    assert r["n_missed"] == 0
    assert r["n_valid"] == r["n_ids"] - r["n_corrupted"]
    assert r["n_corrupted"] > 0

    def luhn_check_digit(b):
        digs = [(b // 10**i) % 10 for i in range(7)]
        s = 0
        for i, d in enumerate(digs):
            if i % 2 == 0:
                dd = 2 * d
                s += dd - 9 if dd > 9 else dd
            else:
                s += d
        return (10 - s % 10) % 10

    eids = [x["event_id"] for x in
            _t(spark, SF, "events").select("event_id").limit(20).collect()]
    for e in eids:
        b = (e * 7919 + 12345) % 10000000
        cid = b * 10 + luhn_check_digit(b)
        assert luhn_check_digit(cid // 10) == cid % 10


def test_max_concurrency_crafted_overlaps(spark):
    """Crafted sessions: three users overlapping pairwise but never all
    three -> peak 2; back-to-back sessions at the same instant never
    double-count (exclusive ends)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="conc-")
    MIN = 60000000
    rows, eid = [], 0

    def add(u, minutes):
        nonlocal eid
        for m in minutes:
            eid += 1
            rows.append((eid, u, m * MIN, "view", 0.0, "{}"))

    add(1, [0, 10])      # session [0, 10]
    add(2, [5, 20])      # overlaps user 1 on [5, 10]
    add(3, [40, 50])     # overlaps nobody (ends of 1,2 long past)
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, "
        "value double, props string"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = QUERIES["session_max_concurrency"].fn(spark, d).collect()[0]
    assert r["n_sessions"] == 3
    assert r["n_users"] == 3
    assert r["max_concurrent"] == 2


def test_rowwise_topk_matches_lexsort_reference():
    """The order-encoded argpartition top-k must equal the per-row
    lexsort reference — values desc, column id asc on ties — including
    duplicate values, k > n, and the overflow fallback path."""
    import numpy as np

    from youtube_trending_data_pipeline_spark.operators import intlinalg as ila

    rng = np.random.RandomState(11)
    for m, n, k, hi in [(7, 13, 5, 50), (3, 4, 9, 3), (20, 64, 5, 10**9)]:
        D = rng.randint(-hi, hi, size=(m, n)).astype(np.int64)
        ids = rng.permutation(np.arange(100, 100 + n)).astype(np.int64)
        got = ila._rowwise_topk(D, ids, k)
        kk = min(k, n)
        for r in range(m):
            ref = np.lexsort((ids, -D[r]))[:kk]
            assert list(got[r]) == list(ref), (r, D[r], ids)
    # fallback: per-row SPREAD so large even the rebased key overflows
    D = np.array([[2**61, -(2**61), 5]], dtype=np.int64)
    ids = np.array([3, 1, 2], dtype=np.int64)
    got = ila._rowwise_topk(D, ids, 3)
    assert list(got[0]) == list(np.lexsort((ids, -D[0])))
    # round 10: the Lloyd regime — huge ABSOLUTE magnitude (-d2 keys
    # near -3.3e18) with small per-row spread must take the vectorized
    # rebased path (the old |D|*M guard would have hit the slow
    # fallback at ~1024 columns) and still match the reference,
    # including ties
    n = 1024
    base = np.int64(-3_300_000_000_000_000_000)
    offs = rng.randint(0, 10**6, size=(5, n)).astype(np.int64)
    offs[:, 1] = offs[:, 0]  # planted tie -> id tie-break exercised
    D = base + offs
    ids = rng.permutation(np.arange(200, 200 + n)).astype(np.int64)
    got = ila._rowwise_topk(D, ids, 7)
    for r in range(5):
        ref = np.lexsort((ids, -D[r]))[:7]
        assert list(got[r]) == list(ref), r


def test_exact_int_matmul_bit_exact_and_guarded():
    """float64-BLAS integer matmul is bit-exact against int64 @ for
    in-range magnitudes and raises loudly past the guard (an int64
    fallback could silently wrap once bound^2*dim > 2^63). The row-block
    form concatenates to the same matrix (including an empty A), runs
    its guard at the call, before any block, and the squared-L2 helper
    equals the direct difference form."""
    import numpy as np

    from youtube_trending_data_pipeline_spark.operators import intlinalg as ila

    rng = np.random.RandomState(7)
    A = rng.randint(-30000, 30000, size=(17, 64)).astype(np.int64)
    B = rng.randint(-30000, 30000, size=(23, 64)).astype(np.int64)
    assert (ila._exact_int_matmul(A, B) == A @ B.T).all()
    blocks = list(ila._exact_int_matmul_blocks(A, B, 5))
    assert [s for s, _ in blocks] == [0, 5, 10, 15]
    assert (np.vstack([D for _, D in blocks]) == A @ B.T).all()
    assert ila._exact_int_matmul(A[:0], B).shape == (0, 23)
    d2 = ((A[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
    assert (ila._exact_sq_l2(A, B) == d2).all()
    # guard path: magnitudes whose squares exceed 2^53 / dim
    A2 = np.full((2, 4), 2**31, dtype=np.int64)
    with pytest.raises(ValueError, match="exact-dot"):
        ila._exact_int_matmul(A2, A2)
    with pytest.raises(ValueError, match="exact-dot"):
        ila._exact_int_matmul_blocks(A2, A2, 1)
    with pytest.raises(ValueError, match="exact-dot"):
        ila._exact_sq_l2(A2, A2)


def _knn_table(rows):
    """(vec_id, qv, is_m, is_p) rows -> the Arrow group the kNN cell
    kernel receives (int32 vector transport, as in production)."""
    import pyarrow as pa

    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "qv": pa.array([r[1] for r in rows], pa.list_(pa.int32())),
            "is_m": pa.array([r[2] for r in rows]),
            "is_p": pa.array([r[3] for r in rows]),
        }
    )


def test_knn_cell_kernel_flags_and_self_exclusion():
    """Probers score only members, self-pairs are excluded, ties break
    to the smaller member id, and member rows that do not probe emit
    nothing."""
    import youtube_trending_data_pipeline_spark.catalog_analysis as ca

    # vectors chosen so dots are obvious: e1-ish patterns
    # members: 1, 2, 4; probers: 1, 3 (2 and 4 are member-only)
    tbl = _knn_table(
        [
            (1, [10, 0], True, True),
            (2, [10, 0], True, False),
            (3, [10, 0], False, True),
            (4, [0, 10], True, False),
        ]
    )
    out = ca._knn_cell_arrow(tbl, k=2).to_pylist()
    got = {(r["u"], r["v"]): r["dot"] for r in out}
    # prober 1: members {2, 4} after self-exclusion -> 2 (dot 100), 4 (0)
    # prober 3: members {1, 2, 4} -> top-2 = 1 then 2 (tie 100 -> smaller id)
    assert got == {(1, 2): 100, (1, 4): 0, (3, 1): 100, (3, 2): 100}
    # no output rows for non-probers
    assert {r["u"] for r in out} == {1, 3}
    # a group with no prober emits nothing
    assert ca._knn_cell_arrow(_knn_table([(1, [1, 0], True, False)]), 2).num_rows == 0


def test_kmeans_lloyd_recovers_planted_blobs(spark, tmp_path):
    """Eight zero-spread blobs, one seed vector in each (ids 0..7 lead):
    Lloyd's must assign every member to its blob's center with zero
    truncated inertia and the blob vector's exact L1 mass as centroid."""
    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    d = str(tmp_path)
    rows = []
    for blob in range(8):
        vec = [0.0] * 64
        vec[blob] = 0.5  # qv 5000 at dim `blob`
        rows.append((blob, vec, "s"))          # ids 0..7 = the seeds
    for i in range(8, 80):
        blob = i % 8
        vec = [0.0] * 64
        vec[blob] = 0.5
        rows.append((i, vec, "s"))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    out = {r["cid"]: r for r in QUERIES["kmeans_lloyd_integer"].fn(spark, d).collect()}
    assert set(out) == set(range(8))
    for cid, r in out.items():
        assert r["n_members"] == 10
        assert r["inertia_m"] == 0            # zero spread -> zero inertia
        assert r["centroid_l1"] == 5000 * 1000  # exact fixed-point mass


def test_sim_ivf_lloyd_planted_blobs(spark, tmp_path):
    """Queries (ids 0..4) planted exactly on five blob axes must
    retrieve only corpus members of their own blob: the Lloyd cells
    separate zero-spread blobs perfectly, each query probes its own
    cell first, and the exact re-rank puts the identical-direction
    members ahead with (cos DESC, id ASC) tie-break to the smallest
    neighbor ids."""
    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    d = str(tmp_path)
    rows = []
    # ids 0..4 = queries, one per blob axis 0..4
    for q in range(5):
        vec = [0.0] * 64
        vec[q] = 0.5
        rows.append((q, vec, "s"))
    # corpus ids 5.. : 8 zero-spread blobs on axes 0..7, 10 members each
    # (ids 5..12 seed the 8 Lloyd cells; axes (i-5) % 8 make the seeds
    # cover all 8 blobs)
    for i in range(5, 85):
        vec = [0.0] * 64
        vec[(i - 5) % 8] = 0.5
        rows.append((i, vec, "s"))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    out = QUERIES["sim_ivf_topk"].fn(spark, d).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(5))
    for q, rs in by_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == [1, 2, 3]
        for r in rs:
            # same-blob members only (corpus id axis == query axis),
            # perfect cosine, smallest ids win the tie-break
            assert (r["neighbor_id"] - 5) % 8 == q
            assert r["cos"] == 1.0
        assert sorted(r["neighbor_id"] for r in rs) == [5 + q, 13 + q, 21 + q]


def test_knn_kernel_row_block_boundary():
    """Round 10: the shared kNN kernel streams probers in row blocks
    (bounded memory at any group size); a block size forcing multiple
    blocks — including a ragged last block — must be bit-identical to
    the single-block result."""
    from youtube_trending_data_pipeline_spark import catalog_analysis as ca

    n_mem, n_pro, dim, k = 17, 11, 8, 3
    rows = []
    for i in range(n_mem):
        rows.append((i, [(i * 7 + j * 3) % 50 - 25 for j in range(dim)], True, False))
    for i in range(n_pro):
        rows.append((100 + i, [(i * 5 + j * 11) % 50 - 25 for j in range(dim)], False, True))
    # one prober is ALSO a member id -> exercises the self-mask path
    rows.append((3, rows[3][1], False, True))
    tbl = _knn_table(rows)

    old = ca._KNN_BLOCK_CELLS
    try:
        ca._KNN_BLOCK_CELLS = 10**9  # single block
        a = ca._knn_cell_arrow(tbl, k).to_pylist()
        ca._KNN_BLOCK_CELLS = 5 * n_mem  # 5 probers per block, ragged tail
        b = ca._knn_cell_arrow(tbl, k).to_pylist()
    finally:
        ca._KNN_BLOCK_CELLS = old
    assert a == b
    us = [r["u"] for r in a]
    assert set(us) == {100 + i for i in range(n_pro)} | {3}
    assert all(us.count(u) == k for u in set(us))
    # the duplicated-id prober never reports itself
    assert not any(r["u"] == 3 and r["v"] == 3 for r in a)
