"""UDF-surface extension points (SURVEY §2.11): the reference has no
user-extensible functions; the engine inherits PySpark's full surface.
These tests pin the three Arrow-era shapes working end-to-end:
- scalar pandas_udf (vectorized, Arrow-batched)
- grouped-aggregate pandas_udf (a UDAF)
- Python UDTF (table function, Spark 3.5+)
Hot paths stay JVM-side (tests/test_plan_quality.py forbids Python UDFs
in catalog queries); these exist for semantics Spark genuinely lacks."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def test_scalar_pandas_udf_matches_jvm(spark):
    @F.pandas_udf(DoubleType())
    def py_engagement(likes: pd.Series, comments: pd.Series, views: pd.Series) -> pd.Series:
        return ((likes + 2 * comments) / views.where(views > 0) * 1000).fillna(0.0)

    df = spark.createDataFrame(
        [(10, 5, 1000), (0, 0, 0), (3, 1, 50)], "likes long, comments long, views long"
    )
    jvm = df.select(
        F.when(
            F.col("views") > 0,
            (F.col("likes") + 2 * F.col("comments")) / F.col("views") * 1000,
        )
        .otherwise(0.0)
        .alias("e")
    )
    py = df.select(py_engagement("likes", "comments", "views").alias("e"))
    assert [r.e for r in py.collect()] == [r.e for r in jvm.collect()]


def test_grouped_agg_pandas_udaf(spark):
    @F.pandas_udf(DoubleType())
    def trimmed_mean(v: pd.Series) -> float:
        lo, hi = v.quantile(0.1), v.quantile(0.9)
        inner = v[(v >= lo) & (v <= hi)]
        return float(inner.mean()) if len(inner) else float(v.mean())

    df = spark.createDataFrame(
        [("a", float(x)) for x in range(1, 11)] + [("a", 1000.0), ("b", 5.0)],
        "k string, v double",
    )
    out = {r.k: r.tm for r in df.groupBy("k").agg(trimmed_mean("v").alias("tm")).collect()}
    # the 1000.0 outlier is trimmed from group a
    assert out["a"] < 12.0
    assert out["b"] == 5.0


def test_python_udtf_explodes_rows(spark):
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class Tokenize:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield w, i

    spark.udtf.register("tokenize_udtf", Tokenize)
    spark.createDataFrame(
        [("the quick fox",), ("",)], "text string"
    ).createOrReplaceTempView("docs_udtf")
    rows = spark.sql(
        "SELECT word, pos FROM docs_udtf, LATERAL tokenize_udtf(text)"
    ).collect()
    assert {(r.word, r.pos) for r in rows} == {("the", 0), ("quick", 1), ("fox", 2)}


def test_parameterized_sql_named_args(spark):
    """spark.sql named-parameter binding (Spark 4): injection-safe query
    templating — the surface a multi-tenant engine exposes instead of
    string interpolation."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id long, tag string"
    )
    df.createOrReplaceTempView("pt")
    out = spark.sql(
        "SELECT count(*) AS n FROM pt WHERE tag = :tag AND id >= :lo",
        args={"tag": "a", "lo": 1},
    ).collect()
    assert out[0].n == 2
    # literal string with quote chars binds as DATA, not SQL
    evil = "a' OR '1'='1"
    out2 = spark.sql(
        "SELECT count(*) AS n FROM pt WHERE tag = :tag", args={"tag": evil}
    ).collect()
    assert out2[0].n == 0


def test_identifier_clause_safe_table_templating(spark):
    """IDENTIFIER() binds table/column names from parameters — the safe
    form of dynamic DDL/DML a catalog layer needs."""
    spark.createDataFrame([(5,)], "v long").createOrReplaceTempView("safe_t")
    out = spark.sql(
        "SELECT sum(IDENTIFIER(:col)) AS s FROM IDENTIFIER(:tbl)",
        args={"col": "v", "tbl": "safe_t"},
    ).collect()
    assert out[0].s == 5


def test_identifier_clause_binds_table_names(spark):
    """Spark 4 IDENTIFIER(:param): dynamic table/column names bind as
    identifiers through parameter markers — injection-safe templating
    for the multi-tenant catalog patterns string interpolation breaks."""
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, tag string")\
        .createOrReplaceTempView("ident_t")
    out = spark.sql(
        "SELECT count(*) AS n FROM IDENTIFIER(:tbl)", args={"tbl": "ident_t"}
    ).collect()
    assert out[0].n == 2
    import pytest as _pytest

    with _pytest.raises(Exception):
        # a malicious "name" is treated as one identifier, not SQL
        spark.sql(
            "SELECT count(*) AS n FROM IDENTIFIER(:tbl)",
            args={"tbl": "ident_t WHERE 1=0"},
        ).collect()


_DIRECT_IMPORT_MODULES = [
    "catalog_ext",
    "catalog_tpch",
    "catalog_corpus",
    "catalog_curation",
    "catalog_analysis",
    "catalog_analysis_mining",
    "catalog_analysis_series",
    "catalog_quality",
]


@pytest.mark.parametrize("first_module", _DIRECT_IMPORT_MODULES)
def test_any_direct_import_keeps_canonical_order(first_module):
    """Importing any catalog module first (executor-side kernel
    unpickling does) and then ``_load_extensions()`` registers every
    entry, and ``all_queries()`` orders them the same way: the order
    comes from the CORRECTNESS files and entry names, not from which
    module registered first. Runs in a fresh interpreter so this
    process's import state can't mask it."""
    import json
    import os
    import subprocess
    import sys

    from youtube_trending_data_pipeline_spark import catalog

    code = (
        "import json\n"
        f"import youtube_trending_data_pipeline_spark.{first_module}\n"
        "from youtube_trending_data_pipeline_spark import catalog\n"
        "catalog._load_extensions()\n"
        "print(json.dumps([sorted(catalog.QUERIES), list(catalog.all_queries())]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-800:]
    registered, ordered = json.loads(out.stdout.splitlines()[-1])
    canonical = list(catalog.all_queries())
    assert registered == sorted(canonical)
    assert ordered == canonical
