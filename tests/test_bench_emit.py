"""The driver parses bench output from a ~2000-byte tail capture; the
emitted JSON line must never overflow it (round 8's did — 61 queries at
default separators crossed 2 KB and BENCH_r08.json recorded parsed=null).
Pure-Python tests: no Spark session."""

import json

import bench
from rust_ruuvitag_etl_spark.plans import REGISTRY


def _full(n_queries: int) -> dict:
    return {
        "metric": "headline_suite_wall_clock",
        "value": 123.456,
        "unit": "sec",
        "queries": {
            f"some_rather_long_query_name_{i:04d}": round(0.1 + i * 0.037, 3)
            for i in range(n_queries)
        },
        "sf": 0.1,
        "calibration_s": 0.16,
    }


def test_line_fits_tail_buffer_at_any_registry_size():
    for n in (0, 1, 40, 63, 150, 400):
        line = bench._emit_line(_full(n))
        assert len(line.encode()) <= bench._LINE_BUDGET_BYTES, n
        obj = json.loads(line)
        assert obj["metric"] == "headline_suite_wall_clock"
        assert obj["value"] == 123.456
        assert obj["n_queries"] == n
        assert len(obj["queries"]) <= n


def test_line_keeps_slowest_queries():
    full = _full(150)
    obj = json.loads(bench._emit_line(full))
    kept = obj["queries"]
    assert 0 < len(kept) < 150
    dropped_max = max(
        v for k, v in full["queries"].items() if k not in kept
    )
    kept_min = min(kept.values())
    assert kept_min >= dropped_max
    # every kept value matches the full map
    for k, v in kept.items():
        assert full["queries"][k] == v


def test_small_suite_emits_all_queries():
    full = _full(10)
    obj = json.loads(bench._emit_line(full))
    assert obj["queries"] == full["queries"]


def test_current_headline_would_fit():
    # The real failure mode: the actual HEADLINE names with plausible
    # timings must serialize under budget.
    full = _full(0)
    full["queries"] = {name: 12.345 for name in bench.HEADLINE}
    line = bench._emit_line(full)
    assert len(line.encode()) <= bench._LINE_BUDGET_BYTES
    assert json.loads(line)["n_queries"] == len(bench.HEADLINE)


def test_headline_names_are_registered():
    missing = [name for name in bench.HEADLINE if name not in REGISTRY]
    assert not missing, missing
