"""Unit tests for the round-5 corpus-curation and graph operators
(catalog_corpus.py): passage-level dedup semantics, degree-oriented
triangle counting, CMS invariants, Z-order bucket bounds, BPE pair
shape. Oracle parity at every SF is covered by test_oracle_parity /
sweep.py; these tests pin the SEMANTICS on hand-built inputs where the
expected answer is knowable by inspection."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_trending_data_pipeline_spark.catalog import QUERIES, _load_extensions
from youtube_trending_data_pipeline_spark.operators.dedup import passage_dedup
from youtube_trending_data_pipeline_spark.operators.graph import triangle_counts

_load_extensions()

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# passage_dedup
# ---------------------------------------------------------------------------


def test_passage_dedup_removes_repeated_passage_keeps_first(spark):
    boiler = "a b c d e f g h"  # exactly one 8-word passage
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique one two three four five six seven"),
            (2, boiler + " other words here that are not duplicated x"),
            (3, "totally fresh text with no duplication at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in passage_dedup(docs).collect()}
    # doc 1: both passages survive (it owns the first occurrence)
    assert out[1]["n_passages"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"].startswith(boiler)
    # doc 2: boilerplate passage dropped, unique tail kept
    assert out[2]["n_passages"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "other words here that are not duplicated x"
    # doc 3: single short passage, untouched
    assert out[3]["n_passages"] == 1 and out[3]["n_kept"] == 1


def test_passage_dedup_identity_on_unique_corpus(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(5)],
        "doc_id long, text string",
    )
    out = passage_dedup(docs).collect()
    assert len(out) == 5
    for r in out:
        assert r["n_passages"] == 2  # 12 words -> passages of 8 + 4
        assert r["n_kept"] == 2
        assert r["clean_text"] == " ".join(f"w{r['doc_id']}x{j}" for j in range(12))


def test_passage_dedup_empty_corpus(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert passage_dedup(docs).count() == 0


def test_passage_dedup_intra_doc_repetition_collapses(spark):
    p = "r r r r r r r r"
    docs = spark.createDataFrame(
        [(7, f"{p} {p} {p}")], "doc_id long, text string"
    )
    row = passage_dedup(docs).collect()[0]
    # three identical passages inside one doc -> only pos 0 survives
    assert row["n_passages"] == 3 and row["n_kept"] == 1
    assert row["clean_text"] == p


# ---------------------------------------------------------------------------
# triangle_counts
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_triangles_k4(spark):
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(_edges(spark, k4)).collect()}
    # K4 has 4 triangles; every node participates in C(3,2) = 3
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_path_graph_none(spark):
    path = [(i, i + 1) for i in range(5)]
    assert triangle_counts(_edges(spark, path)).count() == 0


def test_triangles_single_triangle_plus_pendant(spark):
    edges = [(1, 2), (2, 3), (1, 3), (3, 4)]
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(_edges(spark, edges)).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_triangles_empty_edges(spark):
    assert triangle_counts(_edges(spark, [])).count() == 0


# ---------------------------------------------------------------------------
# catalog-entry invariants on real testdata
# ---------------------------------------------------------------------------


def test_cms_never_underestimates(spark):
    rows = QUERIES["cms_heavy_hitters"].fn(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cms_est"] >= r["exact_n"], r


def test_zorder_buckets_bounded_and_spans_consistent(spark):
    rows = QUERIES["zorder_layout_stats"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["bucket"] < 1024
        assert r["min_cust"] <= r["max_cust"]
        assert r["min_day"] <= r["max_day"]


def test_bpe_pairs_are_bigrams_ranked(spark):
    rows = QUERIES["bpe_merge_step"].fn(spark, SF).collect()
    assert len(rows) == 10
    assert all(len(r["pair"]) == 2 for r in rows)
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_tfidf_ranks_within_doc(spark):
    rows = QUERIES["text_tfidf_topk"].fn(spark, SF).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["score_scaled"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_lm_bigram_score_bounds(spark):
    rows = QUERIES["lm_bigram_doc_score"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        # every bigram occurs at least once (itself): score >= 1.0 ppm-scaled
        assert r["avg_freq_ppm"] >= 1_000_000
        assert r["n_bigrams"] >= 1


# ---------------------------------------------------------------------------
# semdedup_keepers
# ---------------------------------------------------------------------------


def test_semdedup_groups_identical_vectors(spark):
    from youtube_trending_data_pipeline_spark.operators.dedup import (
        semdedup_keepers,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),   # duplicate of 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal singleton
        (3, [0.99, 0.01, 0.0]),  # near-dup of 0/1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semdedup_keepers(
            df, n_cells=2, threshold=0.9
        ).collect()
    }
    assert len(out) == 4
    assert out[0]["kept"] and out[0]["rep_id"] == 0
    assert not out[1]["kept"] and out[1]["rep_id"] == 0
    assert out[2]["kept"] and out[2]["rep_id"] == 2
    assert not out[3]["kept"] and out[3]["rep_id"] == 0


def test_semdedup_negative_ids(spark):
    """ADVICE r9: Spark % keeps the dividend's sign, so a negative
    user-supplied id salted with `% n_salts` landed in a salt group
    with no replicated seeds and was silently DROPPED by the
    assignment kernel — violating the one-row-per-input-vector
    contract.  pmod keeps every id in a seeded group."""
    from youtube_trending_data_pipeline_spark.operators.dedup import (
        semdedup_keepers,
    )

    rows = [
        (-7, [1.0, 0.0, 0.0]),
        (-1, [1.0, 0.0, 0.0]),   # duplicate of -7
        (0, [0.0, 1.0, 0.0]),
        (5, [0.99, 0.01, 0.0]),  # near-dup of -7/-1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semdedup_keepers(df, n_cells=2, threshold=0.9).collect()
    }
    # one row per input vector, negative ids included
    assert sorted(out) == [-7, -1, 0, 5]
    assert out[-7]["kept"] and out[-7]["rep_id"] == -7
    assert not out[-1]["kept"] and out[-1]["rep_id"] == -7
    assert out[0]["kept"]


def test_semdedup_empty_corpus(spark):
    from youtube_trending_data_pipeline_spark.operators.dedup import (
        semdedup_keepers,
    )

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semdedup_keepers(df).count() == 0


def test_semdedup_threshold_guards():
    """ADVICE r8: the public threshold parameter must mean what the
    caller passed — unrepresentable, negative, and >1 thresholds raise
    loudly instead of silently snapping / abs-folding."""
    import pytest

    from youtube_trending_data_pipeline_spark.operators.dedup import (
        _semdedup_threshold_frac,
    )

    assert _semdedup_threshold_frac(0.25) == (1, 4)
    assert _semdedup_threshold_frac(0.85) == (17, 20)
    assert _semdedup_threshold_frac(0.0) == (0, 1)
    assert _semdedup_threshold_frac(1.0) == (1, 1)
    with pytest.raises(ValueError, match="not exactly representable"):
        _semdedup_threshold_frac(0.87)  # would snap to 13/15
    with pytest.raises(ValueError, match=">= 0"):
        _semdedup_threshold_frac(-0.5)
    with pytest.raises(ValueError, match="<= 1"):
        _semdedup_threshold_frac(1.5)


def _semdedup_cell_table(ids, vecs):
    """(_id, _qv) Arrow group as the semdedup cell kernel receives it
    (int32 vector transport, as in production)."""
    import pyarrow as pa

    return pa.table(
        {
            "_id": pa.array(ids, pa.int64()),
            "_qv": pa.array([list(map(int, v)) for v in vecs], pa.list_(pa.int32())),
        }
    )


def test_semdedup_kernel_guards():
    """ADVICE r8: predicate-headroom and cell-cap guards raise loudly
    instead of silently wrapping int64 / OOMing on a hot cell."""
    import pytest

    from youtube_trending_data_pipeline_spark.operators.dedup import (
        _SEMDEDUP_CELL_CAP,
        _semdedup_cell_arrow,
    )

    # |v|^2 = 2 * (2^20)^2 = 2^41; q=20 -> q^2*(2^41)^2 = 400*2^82 >> 2^63
    # yet bound^2*dim = 2^41 < 2^53 passes the Gram-exactness guard —
    # exactly the gap ADVICE flagged.
    big = 2**20
    with pytest.raises(ValueError, match="headroom"):
        _semdedup_cell_arrow(_semdedup_cell_table([1, 2], [[big, big]] * 2), 17, 20)

    hot = _semdedup_cell_table(
        range(_SEMDEDUP_CELL_CAP + 1), [[1, 0]] * (_SEMDEDUP_CELL_CAP + 1)
    )
    with pytest.raises(ValueError, match="cap"):
        _semdedup_cell_arrow(hot, 1, 4)


def test_semdedup_kernel_block_boundary():
    """Row-block chunking emits the same pairs as the whole-matrix
    reference across the block boundary."""
    import youtube_trending_data_pipeline_spark.operators.dedup as dd

    n = 23
    rng_free = [
        [(i * 7 + 3) % 11 - 5, (i * 5 + 1) % 9 - 4] for i in range(n)
    ]
    tbl = _semdedup_cell_table(range(n), rng_free)
    orig_block = dd._SEMDEDUP_GRAM_BLOCK
    try:
        dd._SEMDEDUP_GRAM_BLOCK = 4  # force many blocks
        got = {
            (r["id_a"], r["id_b"])
            for r in dd._semdedup_cell_arrow(tbl, 1, 2).to_pylist()
        }
    finally:
        dd._SEMDEDUP_GRAM_BLOCK = orig_block
    want = set()
    for i in range(n):
        for j in range(i + 1, n):
            a, b = rng_free[i], rng_free[j]
            dot = a[0] * b[0] + a[1] * b[1]
            na, nb = a[0] ** 2 + a[1] ** 2, b[0] ** 2 + b[1] ** 2
            if dot >= 0 and na > 0 and nb > 0 and 4 * dot * dot >= na * nb:
                want.add((i, j))
    assert got == want


# ---------------------------------------------------------------------------
# tokenize_to_ids / sim_knn_classify
# ---------------------------------------------------------------------------


def test_tokenize_ids_roundtrip_consistency(spark):
    rows = QUERIES["tokenize_to_ids"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        ids = r["ids_csv"].split(",")
        assert len(ids) == r["n_tokens"]
        assert sum(1 for i in ids if i == "-1") == r["n_unk"]
        # vocab ids are positive, dense from 1
        assert all(int(i) >= 1 or i == "-1" for i in ids)


def test_knn_classify_unanimous_vote(spark):
    from youtube_trending_data_pipeline_spark.catalog_corpus import (
        sim_knn_classify,  # registered fn object (callable directly)
    )

    rows = QUERIES["sim_knn_classify"].fn(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert 1 <= r["votes"] <= 3


# ---------------------------------------------------------------------------
# salted_join / ngram_novelty_score
# ---------------------------------------------------------------------------


def test_salted_join_equals_plain_join_on_skewed_input(spark):
    from youtube_trending_data_pipeline_spark.operators.skew import salted_join

    # 90% of fact rows hit key 1 — the shape salting exists for
    fact = spark.createDataFrame(
        [(1 if i % 10 else 2, i, i * 10) for i in range(200)],
        "k long, rid long, v long",
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "cold"), (3, "unmatched")], "dk long, name string"
    )
    salted = salted_join(
        fact, dim, fact_key="k", dim_key="dk", salt_from="rid", salt_buckets=4
    )
    plain = fact.join(dim, fact["k"] == dim["dk"]).drop("dk")
    a = sorted(tuple(r) for r in salted.select("k", "rid", "v", "name").collect())
    b = sorted(tuple(r) for r in plain.select("k", "rid", "v", "name").collect())
    assert a == b and len(a) == 200


def test_novelty_all_unique_and_all_shared(spark):
    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    # hand-built: doc 1 fully unique, docs 2/3 identical (all shingles shared)
    import youtube_trending_data_pipeline_spark.catalog_corpus as cc

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "one two three four five"),
            (3, "one two three four five"),
        ],
        "doc_id long, text string",
    )
    # drive the same logic as the catalog entry via a temp view + monkey
    # source: simplest is to replicate through the operator expression
    from pyspark.sql import functions as F

    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))
    sh = (
        docs.select("doc_id", toks.alias("_toks"))
        .where(F.size("_toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(_toks) - 3), i -> "
                        "array_join(slice(_toks, i + 1, 3), ' '))"
                    )
                )
            ).alias("s"),
        )
    )
    dfc = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    out = {
        r["doc_id"]: r
        for r in sh.join(dfc, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)) "
                "div count(1) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
        .collect()
    }
    assert out[1]["novelty_ppm"] == 1_000_000   # fully novel
    assert out[2]["novelty_ppm"] == 0           # fully duplicated
    assert out[3]["novelty_ppm"] == 0
