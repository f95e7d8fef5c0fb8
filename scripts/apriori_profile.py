"""HISTORICAL round-8 decomposition of the RETIRED r7 Apriori structure.

The r7 verdict asked which stage of the THEN-current implementation
(per-doc pair self-join + i1 x i2 x i3 triple-support re-join) grew
super-linear; this script answered it (the triple-support re-join) and
motivated the round-8 rewrite (per-doc combination generation from
broadcast candidate arrays, packed LONG triple keys).  It deliberately
still profiles the RETIRED join structure so the r8 before/after
comparison stays reproducible — its stage times do NOT describe the
shipped `apriori_triple_itemsets` (which runs ~3 s at sf0.1 /
~14 s at sf1; see PERF.md rounds 8-9 and scripts/scale_check.py for
the current entry's numbers).

Run: python scripts/apriori_profile.py
"""
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession, functions as F

from youtube_trending_data_pipeline_spark import catalog_analysis as ca
from youtube_trending_data_pipeline_spark.catalog import t
from youtube_trending_data_pipeline_spark.catalog_analysis import _toks_a
from youtube_trending_data_pipeline_spark.catalog_analysis_mining import (
    _AP_PAIR_PPM, _AP_TRIPLE_PPM,
)


def stages(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    nd = docs.agg(
        F.expr(f"CAST(({_AP_PAIR_PPM} * COUNT(*)) div 1000000 AS BIGINT)").alias("pair_min"),
        F.expr(f"CAST(({_AP_TRIPLE_PPM} * COUNT(*)) div 1000000 AS BIGINT)").alias("triple_min"),
    )
    out = {}

    t0 = time.time()
    item = (
        docs.select("doc_id", F.explode(F.array_distinct(_toks_a())).alias("tok"))
        .localCheckpoint(eager=True)
    )
    n_item = item.count()
    out["item_explode"] = (time.time() - t0, n_item)

    a, b = item.alias("a"), item.alias("b")
    t0 = time.time()
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.tok").alias("w1"),
        F.col("b.tok").alias("w2"),
    )
    fp = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(nd))
        .where(F.col("c") >= F.col("pair_min"))
        .select("w1", "w2")
        .localCheckpoint(eager=True)
    )
    n_fp = fp.count()
    out["pairgen_fp"] = (time.time() - t0, n_fp)

    t0 = time.time()
    p1, p2 = fp.alias("p1"), fp.alias("p2")
    cand = p1.join(
        p2, (F.col("p1.w1") == F.col("p2.w1")) & (F.col("p1.w2") < F.col("p2.w2"))
    ).select(
        F.col("p1.w1").alias("a"), F.col("p1.w2").alias("b"), F.col("p2.w2").alias("c3")
    )
    face = fp.select(F.col("w1").alias("fb"), F.col("w2").alias("fc"))
    pruned = cand.join(
        face, (F.col("b") == F.col("fb")) & (F.col("c3") == F.col("fc")), "left_semi"
    ).localCheckpoint(eager=True)
    n_pruned = pruned.count()
    out["cand_prune"] = (time.time() - t0, n_pruned)

    t0 = time.time()
    i1 = item.select(F.col("doc_id").alias("d"), F.col("tok").alias("t1"))
    i2 = item.select(F.col("doc_id").alias("d2"), F.col("tok").alias("t2"))
    i3 = item.select(F.col("doc_id").alias("d3"), F.col("tok").alias("t3"))
    tri = (
        pruned.join(i1, F.col("a") == F.col("t1"))
        .join(i2, (F.col("d2") == F.col("d")) & (F.col("b") == F.col("t2")))
        .join(i3, (F.col("d3") == F.col("d")) & (F.col("c3") == F.col("t3")))
    )
    res = (
        tri.groupBy(F.col("a"), F.col("b"), F.col("c3"))
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .crossJoin(F.broadcast(nd))
        .where(F.col("support") >= F.col("triple_min"))
    )
    n_res = res.count()
    out["tri_support"] = (time.time() - t0, n_res)
    return out


def main():
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir in ["/root/testdata/sf0.1", "/tmp/sf1"]:
        r = stages(spark, sf_dir)
        print(sf_dir)
        for k, (sec, n) in r.items():
            print(f"  {k:14s} {sec:7.2f} s  rows={n}")
    spark.stop()


if __name__ == "__main__":
    main()
