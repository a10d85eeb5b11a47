"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[N] — N is $SPARK_GRAFT_CPUS,
else the usable core count (session.DEFAULT_CPUS) — and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the sum of the per-query medians. Each query runs its
production builder (plans/registry.py), one untimed warm pass and then
three timed reps (tools/harness.py:time_query); each run is forced with
a count() so the full plan executes and results stay distributed (no
driver collect).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rust_ruuvitag_etl_spark.session import get_spark
from tools.harness import HEADLINE, calibration_s, time_query, timed_builder


# The driver captures only the LAST ~2000 bytes of bench output before
# parsing the JSON line; round 8's line (61 queries, ~2.1 KB) overflowed
# that window, the head of the line was cut off, and BENCH_r08.json
# recorded "parsed": null. The emitted line therefore carries only the
# slowest queries up to a byte budget with safety margin; the COMPLETE
# per-query map is written to BENCH_FULL.json alongside this script.
_LINE_BUDGET_BYTES = 1700


def _emit_line(full: dict) -> str:
    """Render ``full`` as one JSON line guaranteed <= _LINE_BUDGET_BYTES,
    dropping the cheapest per-query timings first (slowest entries are
    the ones each round's regression check needs)."""
    # n_queries and the scalar fields are placed BEFORE the queries map
    # in key order: the driver's tail capture can truncate the line
    # mid-map, and anything serialized after the map would be lost —
    # the suite size must survive even when the map is cut.
    line_obj = {k: v for k, v in full.items() if k != "queries"}
    line_obj["n_queries"] = len(full["queries"])
    line_obj["queries_full"] = "BENCH_FULL.json"
    line_obj["queries"] = {}
    slowest = sorted(full["queries"].items(), key=lambda kv: (-kv[1], kv[0]))
    kept: dict[str, float] = {}
    for name, dt in slowest:
        kept[name] = dt
        line_obj["queries"] = kept
        if len(json.dumps(line_obj, separators=(",", ":"))) > _LINE_BUDGET_BYTES:
            del kept[name]
            break
    line_obj["queries"] = kept
    return json.dumps(line_obj, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    calibration = calibration_s()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    # One untimed warm run per query so the timed reps measure
    # steady-state execution, not one-time costs (parquet footer/schema
    # reads, codegen compilation, broadcast thread-pool spin-up). MEDIAN
    # of three timed reps: one spike misprices a whole query family
    # (observed: corpus_prep_end_to_end 2.2 s vs an 8.4 s one-off in
    # back-to-back runs). The reported total is the sum of medians.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        reps = time_query(spark, timed_builder(name), sf_dir, warm=1, reps=3)
        timings[name] = round(statistics.median(reps), 3)

    full = {
        "metric": "headline_suite_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration_s": calibration,
    }
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(_emit_line(full))
    spark.stop()


if __name__ == "__main__":
    main()
