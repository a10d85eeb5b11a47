"""Fresh-JVM-per-query median probe — the adjudication protocol for
bench-suite regressions, as a committed command instead of round-lore.

Why it exists (PLANS.md "Bench-suite reading discipline", round 10):
the headline suite times ~80 queries in ONE JVM; back-to-back runs on
an idle box showed the suite TAIL reading 20-30% above fresh-JVM
medians and one run mispricing a mid-suite entry 3x. Suite numbers
BOUND a query's cost; a suite-to-suite delta is only a regression if
this protocol reproduces it: each query gets its OWN JVM (subprocess),
warm passes, then the median of N timed reps through the bench's own
timing loop (tools/harness.py:time_query, reclaim after every run).
The parent also reports the contention sentinel before and after —
readings taken at calibration_s > ~0.32 (1.3x the 0.247 idle reference
in PLANS.md) are themselves suspect.

Times each query's production builder, exactly as the headline does.

Usage: python tools/fresh_jvm_probe.py [sf_dir] query [query ...]
Output: one "<median>s  <query>  reps=[...]" line per query, plus
calibration lines; machine-readable JSON on the last line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from tools.harness import calibration_s, time_query, timed_builder  # noqa: E402

_REPS = 3
# CPU-bound plans (md5-hash shingling, codec decode) ride a long C2
# JIT warm-up curve in a fresh JVM: measured on contamination_ngram_
# eval at sf0.1, rep0 12.4 s -> rep1 2.5 -> rep3 1.65 -> steady 1.6 s.
# ONE warm rep lands mid-curve and over-reads the query ~2x; three
# warm reps reach steady state.
_WARM = 3


def _child(sf_dir: str, name: str) -> None:
    from rust_ruuvitag_etl_spark.session import get_spark

    spark = get_spark(f"probe-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    reps = [
        round(t, 3)
        for t in time_query(spark, timed_builder(name), sf_dir, _WARM, _REPS)
    ]
    print(
        "CHILD_RESULT "
        + json.dumps({"name": name, "median": statistics.median(reps),
                      "reps": reps})
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) < 2:
        print("usage: fresh_jvm_probe.py [sf_dir] query [query ...]")
        sys.exit(2)
    if sys.argv[1] == "--child":
        _child(sys.argv[2], sys.argv[3])
        return
    args = sys.argv[1:]
    # Only consume args[0] as sf_dir when it is a directory AND not a
    # registry query name — a query that happens to match a local dir
    # must not be silently eaten as the sf_dir.
    from rust_ruuvitag_etl_spark.plans import REGISTRY

    sf_dir = (
        args.pop(0)
        if args and os.path.isdir(args[0]) and args[0] not in REGISTRY
        else "/root/testdata/sf0.1"
    )
    if not args:
        print("usage: fresh_jvm_probe.py [sf_dir] query [query ...]")
        sys.exit(2)

    print(f"calibration_s(before) = {calibration_s()}", flush=True)
    results = {}
    for name in args:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child",
             sf_dir, name],
            capture_output=True, text=True, cwd=_REPO,
        )
        line = next(
            (ln for ln in proc.stdout.splitlines()
             if ln.startswith("CHILD_RESULT ")),
            None,
        )
        if line is None:
            print(f"ERR {name}: {proc.stderr.strip()[-300:]}", flush=True)
            continue
        r = json.loads(line[len("CHILD_RESULT "):])
        results[name] = r
        print(f"{r['median']:7.2f}s  {name}  reps={r['reps']}", flush=True)
    print(f"calibration_s(after) = {calibration_s()}", flush=True)
    print(json.dumps({n: r["median"] for n, r in results.items()}))


if __name__ == "__main__":
    main()
