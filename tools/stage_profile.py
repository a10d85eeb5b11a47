"""Per-job/per-stage wall-time attribution for ONE registry query.

The bench gives one number per query; this tool answers "where inside
the query do the seconds go" — the guide §1 empirical loop without a
browser. It runs the query's production builder once warm
(codegen/footers), then once timed, splitting BUILDER time (the
fn(spark, sf_dir) call — eager localCheckpoints execute here as their
own jobs) from ACTION time (count / noop write of the returned frame),
and dumps every job and stage the timed pass ran with durations and
task-metric aggregates read from the session's status store
(tools/harness.py:job_stages).

Usage: python tools/stage_profile.py <query> [sf_dir] [--noop]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    use_noop = "--noop" in sys.argv
    if not args:
        print(__doc__)
        sys.exit(2)
    qname = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"

    from rust_ruuvitag_etl_spark.session import get_spark
    from tools.harness import job_stages, reclaim, timed_builder

    spark = get_spark(f"profile-{qname}")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    fn = timed_builder(qname)

    def run(df):
        if use_noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    # warm pass
    spark.range(1000).count()
    run(fn(spark, sf_dir))
    reclaim(spark)

    sc.setJobGroup(qname, f"{qname}: builder")
    t0 = time.time()
    df = fn(spark, sf_dir)
    t1 = time.time()
    sc.setJobDescription(f"{qname}: action")
    run(df)
    t2 = time.time()

    print(f"query={qname} sf_dir={sf_dir} action={'noop' if use_noop else 'count'}")
    print(f"builder_s={t1 - t0:.3f}  action_s={t2 - t1:.3f}  total_s={t2 - t0:.3f}")

    jobs = job_stages(spark, qname)
    print(f"\n{len(jobs)} jobs in timed pass:")
    tot_by_stage = 0.0
    for j in jobs:
        print(
            f"  job {j['id']:4d}  {j['wall_s']:6.2f}s  "
            f"tasks={j['tasks']:5d}  {j['desc'][:60]}"
        )
        for s in j["stages"]:
            tot_by_stage += s["run_s"]
            print(
                f"    stage {s['id']:4d} tasks={s['tasks']:4d} "
                f"runTime={s['run_s']:7.2f}s cpu={s['cpu_s']:7.2f}s "
                f"gc={s['gc_s']:5.2f}s fetchWait={s['fetch_wait_s']:5.2f}s "
                f"shR={s['shuffle_r']/1e6:7.2f}MB "
                f"shW={s['shuffle_w']/1e6:7.2f}MB  {s['name'][:48]}"
            )
    print(f"\nsum(stage executorRunTime) = {tot_by_stage:.1f}s "
          f"(wall x {sc.defaultParallelism} cores available)")
    spark.stop()


if __name__ == "__main__":
    main()
