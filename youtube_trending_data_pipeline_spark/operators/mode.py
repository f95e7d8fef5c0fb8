"""Mode (most-frequent value) per group with deterministic tie-break
(SURVEY §2 A6/A7/W1).

Reference: ``value_counts().idxmax()`` per region
(dags/trending_daily_aggregates.py:87-88, weekly_report.py:36) — pandas
sorts counts descending and breaks ties by first occurrence in the data.

First-occurrence order is positional, not value-based; reproducing it
distributed requires an ingest ordinal. This operator supports both:

* ``order_col=None`` (default): deterministic value tie-break
  ``cnt DESC, value ASC`` — the documented engine semantics (declared
  deviation per SURVEY §7 risk (a)).
* ``order_col="..."``: faithful first-seen-wins — pass a column holding
  ingest position (e.g. captured via ``monotonically_increasing_id`` at
  ingest); ties break on ``min(order_col)``.

One shuffle on (group, value) for the count, then a size-(distinct values)
window — never a shuffle of raw rows to a single node. Aggregates that
already count per (group, value) pick the same mode with ``min_by`` over
:func:`mode_key` instead, with no window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def mode_key(cnt: Column, value: Column, first_seen: Column | None = None) -> Column:
    """Key whose least value is the mode among (group, value) partials:
    ``min_by(value, mode_key(cnt, value))`` gives ``mode_per_group``'s
    answer — count descending, then first seen, then value ascending. A
    NULL struct field sorts first, so a NULL value wins a tie."""
    tie = [value] if first_seen is None else [first_seen, value]
    return F.struct(-cnt, *tie)


def mode_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """One row per group: the modal ``value_col`` (ties -> see module doc)."""
    out_col = out_col or f"mode_{value_col}"
    group_cols = list(group_cols)
    aggs = [F.count(F.lit(1)).alias("cnt")]
    tie = [F.asc(value_col)]
    if order_col is not None:
        aggs.append(F.min(order_col).alias("_first_seen"))
        tie = [F.asc("_first_seen"), F.asc(value_col)]
    counted = df.groupBy(*group_cols, value_col).agg(*aggs)
    w = Window.partitionBy(*group_cols).orderBy(F.desc("cnt"), *tie)
    return (
        counted.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*group_cols, F.col(value_col).alias(out_col))
    )
