"""Local differential harness replicating the driver's t2 check:
run every registry query on Spark AND its DuckDB oracle, compare
row-count + column names + order-insensitive values.

Usage: python tools/verify_local.py [sf_dir] [query ...]
       python tools/verify_local.py --headline

``--headline`` runs the bench headline suite (the ~28 heaviest
queries) differentially at sf0.1 — the scale-dependent smoke the
standard loop runs before handing to the driver (scale-dependent
breaks like the round-3 µs-timestamp switch surface here first;
log the run in PROGRESS.jsonl).

Comparison is strict: after sorting columns by name and rows by all
values, cells must match exactly (floats compared by repr after
normalizing -0.0/NaN; timestamps compared tz-naive in UTC). Stricter
than any sane driver hash → if this passes, the driver's check should.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from rust_ruuvitag_etl_spark.plans import REGISTRY
from rust_ruuvitag_etl_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0.0"
        return repr(v)
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy arrays / list columns
        return str(v.tolist())
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
        )
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
    a, b = canon(spark_df), canon(duck_df)
    if a != b:
        diffs = 0
        for i, (ra, rb) in enumerate(zip(a, b)):
            if ra != rb:
                if diffs < 3:
                    problems.append(f"row {i}: spark={ra} duck={rb}")
                diffs += 1
        if diffs:
            problems.append(f"total differing rows: {diffs}/{len(a)}")
        elif len(a) != len(b):
            problems.append("row multisets differ in length only")
    return problems


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        # --json OUT: append {sf_dir: {query: {status, rows, secs}}} to
        # OUT (merging with existing content) — the committed
        # full-registry differential artifact (CORRECTNESS_full_rN.json)
        json_out = args[1]
        args = args[2:]
    headline = bool(args) and args[0] == "--headline"
    if headline:
        from tools.harness import HEADLINE

        sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
        only = set(HEADLINE)
    else:
        sf_dir = args[0] if args else "/root/testdata/sf0.01"
        only = set(args[1:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark("verify-local")
    failed, passed, skipped = [], [], []
    record: dict[str, dict] = {}
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir).toPandas()
        except Exception as e:
            failed.append(name)
            record[name] = {"status": "spark_error", "err": str(e)[:120]}
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if q.oracle is None:
            n = len(sdf)
            skipped.append(name)
            record[name] = {
                "status": "rows_only", "rows": n,
                "secs": round(time.time() - t0, 1),
            }
            print(f"ROWS  {name}: {n} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(q.oracle).fetchdf()
        except Exception as e:
            failed.append(name)
            record[name] = {"status": "duckdb_error", "err": str(e)[:120]}
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failed.append(name)
            record[name] = {
                "status": "mismatch", "problems": problems[:3],
                "secs": round(time.time() - t0, 1),
            }
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            passed.append(name)
            record[name] = {
                "status": "pass", "rows": len(sdf),
                "secs": round(time.time() - t0, 1),
            }
            print(f"OK    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
    if json_out:
        import json

        existing = {}
        if os.path.exists(json_out):
            with open(json_out) as f:
                existing = json.load(f)
        merged = existing.get(sf_dir, {}).get("queries", {})
        merged.update(record)  # per-query merge: subset runs top up
        by = {"pass": 0, "rows_only": 0}
        for r in merged.values():
            s = r["status"]
            by[s] = by.get(s, 0) + 1
        n_fail = sum(
            v for k, v in by.items() if k not in ("pass", "rows_only")
        )
        existing[sf_dir] = {
            "summary": f"{by['pass']} passed, {n_fail} failed, "
                       f"{by['rows_only']} rows-only / {len(merged)} run",
            "queries": merged,
        }
        with open(json_out, "w") as f:
            json.dump(existing, f, indent=1, sort_keys=True)
    print(
        f"\n{len(passed)} passed, {len(failed)} failed, {len(skipped)} rows-only"
        f" / {len(REGISTRY) if not only else len(only)} total"
    )
    if headline:
        import json
        import time as _time

        with open(
            os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "PROGRESS.jsonl"),
            "a",
        ) as f:
            f.write(json.dumps({
                "ts": _time.time(),
                "event": "sf0.1_headline_differential",
                "result": f"{len(passed)} passed, {len(failed)} failed, "
                          f"{len(skipped)} rows-only",
            }) + "\n")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
