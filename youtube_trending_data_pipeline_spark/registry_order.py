"""Order of the query registry for the driver's correctness window.

The driver checks the first 50 entries of ``all_queries()`` each round and
writes ``CORRECTNESS_r<N>.json`` beside the package. ``FIRST`` leads in name
order, then entries with no row or a failed latest row, then the least recently
checked. Ties break by name, so registration order does not matter."""

from __future__ import annotations

import json
import re
from functools import cache
from pathlib import Path

# entries changed since the newest CORRECTNESS file; empty it when one lands
FIRST = (
    "f1_duration_parse", "report_html_hash", "a6_mode_per_group", "s3_bronze_roundtrip",
    "s1_datasource_roundtrip", "s2_channels_roundtrip", "domain_daily_insights",
    "semdedup_keepers", "graph_kcore_mutual_knn", "graph_ktruss_mutual_knn", "graph_rich_club",
    "graph_mutual_knn_recall_audit", "sim_margin_topk", "kmeans_lloyd_integer", "sim_ivf_topk",
    "sim_ivf_pivot_topk", "embedding_pq_encode", "sim_pq_adc_topk", "sim_ivfadc_topk",
    "sim_ivfadc_residual_topk",
)
_ROOT = Path(__file__).resolve().parent.parent


def order_for_driver(names, rounds: dict[int, dict[str, dict]]) -> list[str]:
    """``names`` in driver order; ``rounds`` maps a round to {entry: row}."""
    latest = {}
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            ok = all(row.get(k) for k in ("rows_match", "schema_match", "hash_match"))
            latest[name] = (ok and not row.get("err"), rnd)
    # FIRST sorts by name alone, so a new round does not reorder it
    return sorted(
        names,
        key=lambda n: (False, n) if n in FIRST else (True, *latest.get(n, (False, 0)), n),
    )


@cache
def correctness_rounds() -> dict[int, dict[str, dict]]:
    """Every ``CORRECTNESS_r<N>.json`` beside the package, by round."""
    rounds = {}
    for path in _ROOT.glob("CORRECTNESS_r*.json"):
        if m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name):
            rounds[int(m[1])] = json.loads(path.read_text())
    return rounds
