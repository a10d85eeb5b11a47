"""Engine-only timing sweep over the ENTIRE registry.

The full-artifact differential times (CORRECTNESS_full_r*.json) conflate
the Spark plan with its DuckDB oracle — an expensive oracle (brute-force
pair joins, recursive CTEs) hides a cheap plan and vice versa. This
sweep times ONLY the Spark side of each query's production builder (1
warm run + 1 timed run per query through tools/harness.py:time_query,
reclaim after every run) and prints the slowest N,
so each round's "is any engine plan silently heavy?" question is a
command, not a guess. Round-8 finding that motivated it:
fuzzy_match_levenshtein was the registry's slowest engine plan (22 s at
sf0.1) while never appearing in any headline or verdict — its artifact
seconds were attributed to the oracle's own quadratic pass.

Usage: python tools/engine_sweep.py [sf_dir] [top_n]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 25

    from rust_ruuvitag_etl_spark.plans import REGISTRY
    from rust_ruuvitag_etl_spark.session import get_spark
    from tools.harness import time_query, timed_builder

    spark = get_spark("engine-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}
    for name in sorted(REGISTRY):
        try:
            [out[name]] = time_query(
                spark, timed_builder(name), sf_dir, warm=1, reps=1
            )
        except Exception as exc:  # pragma: no cover - sweep robustness
            out[name] = -1.0
            print(f"ERR {name}: {str(exc)[:100]}", flush=True)
    for name, t in sorted(out.items(), key=lambda kv: -kv[1])[:top_n]:
        print(f"{t:7.2f}s  {name}", flush=True)


if __name__ == "__main__":
    main()
