"""bench.py's measurement plumbing: counters never fall back to zeros and
the stdout record never falls back to the full query map."""

from __future__ import annotations

import json

import pytest

import bench
from youtubeanalyzerproject_big_data__spark.plans.inspect import stage_metrics


def test_stage_metrics_reads_the_status_store(spark):
    spark.range(10).groupBy("id").count().collect()
    m = stage_metrics(spark)
    assert m["n_stages"] > 0


def test_stage_metrics_raises_instead_of_zeros():
    class Gone:
        @property
        def sparkContext(self):
            raise RuntimeError("session stopped")

    with pytest.raises(RuntimeError, match="session stopped"):
        stage_metrics(Gone())


def _headline(timings):
    return {"metric": "headline_queries_total", "value": 1.0, "unit": "sec", "queries": timings}


def test_stdout_line_elides_to_the_fixed_subset():
    timings = {q: 12.3456 for q in bench.STDOUT_QUERIES}
    timings.update({f"extra_{i}": 1.0 for i in range(50)})
    full = bench.stdout_line(_headline(timings), timings, budget=10**6)
    assert json.loads(full)["queries"] == timings
    rec = json.loads(bench.stdout_line(_headline(timings), timings, budget=len(full) - 1))
    assert set(rec["queries"]) == set(bench.STDOUT_QUERIES)
    assert rec["queries_elided"] == 50


def test_stdout_line_last_fallback_is_unconditional():
    timings = {q: 12.3456 for q in bench.STDOUT_QUERIES}
    line = bench.stdout_line(_headline(timings), timings, budget=10)
    rec = json.loads(line)
    # over budget even at 1 decimal: the 1-decimal subset, not the full map
    assert rec["detail"] == "BENCH_DETAIL.json"
    assert all(v == 12.3 for v in rec["queries"].values())
