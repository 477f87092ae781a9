"""bench.py's compact last line: every query key survives, walls at 1 dp,
within the driver's tail budget (Spark-free)."""

from __future__ import annotations

import json
import random

import bench
from data_prep_opensearch_spark.plans.queries import REGISTRY


def _summary(names: list[str], max_wall: float) -> dict:
    rng = random.Random(7)
    return {
        "metric": "engine_bench", "value": 93.456789, "unit": "sec",
        "sf": bench.SF_DIR,
        "queries": {n: rng.uniform(0.04, max_wall) for n in names},
        "scaling_efficiency": 0.8123, "scaling_efficiency_raw": 0.7912,
        "scaling_pairs_clean": "3/9", "scaling_sanity_note": None,
        "local2_sec": 123.45, "local8_sec": 45.67, "local8_docs_per_sec": 10945.3,
        "bm25_p50_ms": {"wand": 12.3, "auto": 11.2, "local": 1.2, "local_pd": 1.5},
        "bm25_batch_ms_per_query": 4.5, "bm25_batch_meter_rate": 0.98,
        "lsh_fresh_session_sec": 2.1, "detail": "BENCH_DETAIL.json",
    }


def test_compact_line_keeps_every_query_key():
    """A 90-entry synthetic catalog with walls up to 40 s, and the real
    catalog with walls under 10 s (its sf0.1 walls read 2.5 s at most),
    fit the budget with every query key and ``scaling_efficiency``: a
    catalog that outgrows the budget fails here first."""
    for names, max_wall in (([f"ft_entry_{i:02d}" for i in range(90)], 40.0),
                            (list(REGISTRY), 9.9)):
        summary = _summary(names, max_wall)
        line = bench.compact_line(summary)
        assert len(line) <= bench.COMPACT_BUDGET, (len(names), len(line))
        got = json.loads(line)
        assert got["queries"] == {n: round(v, 1) for n, v in summary["queries"].items()}
        kept = ("metric", "value", "unit", "sf", "scaling_efficiency")
        assert {k: got[k] for k in kept} == {k: summary[k] for k in kept}
        assert "queries_omitted" not in got
    # a line with room keeps every receipt but the empty note
    small = _summary(["ft_a", "ft_b"], 40.0)
    got = json.loads(bench.compact_line(small))
    assert set(got) == set(small) - {"scaling_sanity_note"}
