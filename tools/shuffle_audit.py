"""Runtime shuffle audit: EXECUTE the bench headline queries and record
the actual shuffle bytes written / read per query, so the 100 TB
extrapolation in PLANS.md rests on measured bytes, not static operator
counts.

Usage: python tools/shuffle_audit.py [sf_dir] [out_json] [query ...]

Mechanism: each query's production builder runs once on the bench's
session (``get_spark``) under its own job group; right after, the
session's status store maps job group → jobs → stages
(tools/harness.py:job_stages), and per-stage shuffle write / read bytes
sum per query. (Stage metrics are the only public, version-stable
source of executed shuffle volume — SQL-plan SQLMetrics are not
reachable from Python across AQE re-planning.) Writes JSON: {query:
{"write_bytes": N, "read_bytes": N, "stages": K}};
``tools/plan_audit.py`` merges these into PLANS.md as ShW/ShR columns,
and tests/test_plan_posture.py holds the top shuffle-heavy queries to a
byte budget at sf0.01.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def measure(sf_dir: str, names: list[str]) -> dict[str, dict[str, int]]:
    from rust_ruuvitag_etl_spark.session import get_spark
    from tools.harness import job_stages, timed_builder

    spark = get_spark("shuffle-audit")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[str, int]] = {}
    for name in names:
        spark.sparkContext.setJobGroup(name, name)
        timed_builder(name)(spark, sf_dir).count()
        stages = [s for j in job_stages(spark, name) for s in j["stages"]]
        out[name] = {
            "write_bytes": sum(s["shuffle_w"] for s in stages),
            "read_bytes": sum(s["shuffle_r"] for s in stages),
            "stages": len(stages),
        }
    spark.stop()
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "shuffle_bytes.json",
    )
    if len(sys.argv) > 3:
        names = sys.argv[3:]
    else:
        from tools.harness import HEADLINE

        names = HEADLINE
    result = {
        "sf_dir": sf_dir,
        "queries": measure(sf_dir, list(names)),
    }
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    total_w = sum(q["write_bytes"] for q in result["queries"].values())
    print(f"wrote {out_json}: {len(result['queries'])} queries, "
          f"{total_w/1e6:.1f} MB total shuffle write")


if __name__ == "__main__":
    main()
