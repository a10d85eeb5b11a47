"""Engine benchmark: one workload, one fresh process, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload codec --seed 1 --seconds 50 --trace 0

Each run builds a session with ``get_spark(master=local[<usable cores>])``
and then runs four passes over the workload, or three if the fourth would
end past ``--seconds``. The first pass runs in the fresh JVM; the passes
after it are the steady ones. Within a pass every operation starts only
after the previous one has finished. ``--seed`` sets the query order in
each pass and generates the ingest input.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it records the
box, each pass's summed latency (the first is the cold pass), each
operation's median latency and the failure and wrong-result fractions.
Exit code 2 means the program under test is missing.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MIN_PASSES = 3
# Warm-up goes on over several passes, so a run that fitted more passes
# would read faster; every run stops after the same number instead.
MAX_PASSES = 4


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def calibration_s(reps: int = 3) -> float:
    """Median wall time of a fixed pure-Python loop: a box-speed sentinel."""
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i & 0xFFFF
        samples.append(time.perf_counter() - t0)
    return sorted(samples)[reps // 2]


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside WORK,
    and let Python workers import the program."""
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "rust_ruuvitag_etl_spark")
    ):
        print(f"program under test not found next to {HERE}", file=sys.stderr)
        sys.exit(2)
    tmp, local = os.path.join(WORK, "tmp"), os.path.join(WORK, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_session():
    from rust_ruuvitag_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{usable_cores()}]")
    start_s = time.perf_counter() - t0
    spark.range(1).count()
    return spark, start_s


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    kids = descendants(os.getpid())
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}") and _alive(k)]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- expected digests ------------------------------------------------------


def fingerprint(names: list[str], scale: str) -> str:
    """Hash of the inputs and program sources an expected digest depends on."""
    import workloads

    h = hashlib.sha1(json.dumps(names).encode())
    files = [os.path.join(workloads.sf_dir(scale), f"{t}.parquet") for t in workloads.TABLES]
    files.append(os.path.join(ROOT, "__spark_entry__.py"))
    for base, _, fs in sorted(os.walk(os.path.join(ROOT, "rust_ruuvitag_etl_spark"))):
        files += [os.path.join(base, f) for f in sorted(fs) if f.endswith(".py")]
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def expected_path(workload: str, wl, scale: str) -> str:
    return os.path.join(WORK, f"expected-{workload}-sf{scale}-{fingerprint(wl.names, scale)}.json")


def prepare_expected(workload: str, scale: str) -> None:
    """Child mode: run each query once, check it against its DuckDB oracle
    and cache its digest; a query that disagrees gets no expected digest."""
    import __spark_entry__
    import workloads
    from digest import digest, duckdb_connection, matches_oracle

    prepare_env()
    wl = workloads.build(workload, scale)
    spark, _ = start_session()
    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    con = duckdb_connection(wl.sf_dir, workloads.TABLES)
    out = {}
    for name in wl.names:
        df = queries[name](spark, wl.sf_dir)
        n, h = digest(df)
        ok = matches_oracle(df.toPandas(), con.execute(oracles[name]).fetchdf())
        out[name] = [n, str(h)] if ok else None
        print(f"prepare {name}: rows={n} oracle={'ok' if ok else 'MISMATCH'}", file=sys.stderr)
    stop_session(spark)
    path = expected_path(workload, wl, scale)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)


def recheck_oracle(spark, wl, name: str) -> bool:
    """Run ``name`` again and compare its full result with the oracle."""
    import __spark_entry__
    import workloads
    from digest import duckdb_connection, matches_oracle

    con = duckdb_connection(wl.sf_dir, workloads.TABLES)
    df = __spark_entry__.queries()[name](spark, wl.sf_dir)
    return matches_oracle(df.toPandas(), con.execute(__spark_entry__.oracle_sql()[name]).fetchdf())


# -- the run ------------------------------------------------------------------


def run(args) -> dict:
    import tracing
    import workloads
    from tracing import LayerProbe, NullTracer, Tracer, median, process_age_s

    prepare_env()
    traced = bool(args.trace)
    wl = workloads.build(args.workload, args.scale)
    prepare_s = 0.0
    expected = isinstance(wl, workloads.QueryWorkload) and expected_path(args.workload, wl, args.scale)
    if expected and not os.path.exists(expected):  # first run in this checkout: fresh JVM of its own
        t0 = time.perf_counter()
        subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare", args.workload,
                        "--scale", args.scale], check=True, stdout=sys.stderr)
        prepare_s = time.perf_counter() - t0

    spark, start_s = start_session()
    setup_s = process_age_s() - prepare_s
    versions = {"spark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version")}
    calib_before = calibration_s()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(WORK, f"run-{os.getpid()}")
    wl.start(spark, work, args.seed)
    tr = Tracer(run_id) if traced else NullTracer()
    probe = LayerProbe(spark) if traced else None
    sc = spark.sparkContext
    pid = os.getpid()

    passes: list[dict] = []
    layers: list[dict] = []  # per-op layer counters, traced run only
    trace_s = 0.0
    loop_start = time.perf_counter()
    with tr.span("run"):
        # The first pass and two steady ones; then a third steady one
        # only if one as long as the last still ends within --seconds.
        while len(passes) < MIN_PASSES or (
            len(passes) < MAX_PASSES
            and time.perf_counter() - loop_start + passes[-1]["wall"] <= args.seconds
        ):
            p = len(passes)
            if p:  # outside timed regions: same clean heap and peak for each steady pass
                gc.collect()
                sc._jvm.System.gc()
                tracing.reset_peak_rss(pid)
            pass_start = time.perf_counter()
            ops = []
            with tr.span(f"pass-{p}"):
                for k, op in enumerate(wl.pass_ops(p)):
                    wl.feed(op)
                    groups: list[str] = []

                    def group(label, tag=f"{run_id}/{p}/{k}"):
                        groups.append(f"{tag}/{label}")
                        sc.setJobGroup(groups[-1], tag)

                    cpu0 = tracing.tree_cpu_s(pid)
                    t0 = time.perf_counter()
                    try:
                        with tr.span(op) as span:
                            out = wl.run_op(op, tr, group if traced else workloads.no_group)
                    except Exception as e:  # a failed operation is counted, not fatal
                        print(f"op {op} failed: {type(e).__name__}: {e}", file=sys.stderr)
                        out = None
                    lat = time.perf_counter() - t0
                    ops.append({"op": op, "lat": lat, "cpu": tracing.tree_cpu_s(pid) - cpu0, "out": out})
                    if traced:
                        t1 = time.perf_counter()
                        layers.append(op_layers(probe, tr, span, groups, out, p))
                        trace_s += time.perf_counter() - t1
                written = wl.end_pass()
            passes.append({
                "ops": ops,
                "wall": time.perf_counter() - pass_start,
                "peak_mb": tracing.tree_peak_rss_mb(pid),
                "written": written,
            })

    wrong, rechecked = check(spark, wl, args, passes)
    scan = scan_tables(spark, probe, wl) if traced else None
    tr.write(os.path.join(WORK, f"trace-{args.workload}.jsonl"))
    stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    calib_after = calibration_s()

    steady = passes[1:]
    all_ops = [o for ps in passes for o in ps["ops"]]
    lats = sorted(o["lat"] for ps in steady for o in ps["ops"])
    attempted = len(all_ops)
    failed = sum(o["out"] is None for o in all_ops)
    info = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "passes": len(passes), "steady_ops": len(lats),
        "pass_s": [sum(o["lat"] for o in ps["ops"]) for ps in passes],  # first: the cold pass
        "op_median_s": per_op_medians(steady, "lat"),
        "failed_frac": failed / attempted, "wrong_frac": wrong / attempted,
        "rechecked_ok": rechecked,
        "box": {"nproc": os.cpu_count(), "usable_cores": usable_cores(), **versions,
                "python": sys.version.split()[0], "calibration_s": [calib_before, calib_after]},
    }
    if traced:
        metrics = layer_metrics(layers, passes, scan, start_s, trace_s, wl)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (lower_median_pass(steady, "lat"), "s"),
            "op_p50_s": (median(lats), "s"),
            "cpu_core_s": (lower_median_pass(steady, "cpu"), "s"),
            "peak_rss_mb": (median([ps["peak_mb"] for ps in steady]), "MB"),
        }
    print(json.dumps(info))
    return {
        "correct": wrong == 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def lower_median_pass(passes: list[dict], key: str) -> float:
    """Lower median over the passes of each pass's summed ``key``. The
    first steady pass is often still warming up, and a run in a slow
    phase of the VM has only two steady passes: with two, the lower
    median takes the warmer one."""
    return statistics.median_low([sum(o[key] for o in ps["ops"]) for ps in passes])


def per_op_medians(passes: list[dict], key: str) -> dict[str, float]:
    """Each operation's median ``key`` over the passes."""
    from tracing import median

    by_op: dict[str, list[float]] = {}
    for ps in passes:
        for o in ps["ops"]:
            by_op.setdefault(o["op"], []).append(o[key])
    return {op: median(v) for op, v in by_op.items()}


def check(spark, wl, args, passes) -> tuple[int, int]:
    """Count operations whose digest differs from the expected one; a
    query mismatch is first re-checked against its DuckDB oracle."""
    import workloads

    ran = [o for ps in passes for o in ps["ops"] if o["out"] is not None]
    if isinstance(wl, workloads.IngestWorkload):
        windows = wl.expected()
        return sum(
            (o["out"].rows, o["out"].digest) != workloads.expected_for(windows, o["out"].watermark_us)
            for o in ran
        ), 0
    with open(expected_path(args.workload, wl, args.scale)) as f:
        expected = json.load(f)
    verdict: dict[tuple, bool] = {}
    for o in ran:
        want = expected.get(o["op"])
        got = (o["out"].rows, o["out"].digest)
        if want is not None and got == (want[0], int(want[1])):
            continue
        key = (o["op"], got)
        if key not in verdict:
            verdict[key] = want is not None and recheck_oracle(spark, wl, o["op"])
    wrong = sum(1 for o in ran if verdict.get((o["op"], (o["out"].rows, o["out"].digest))) is False)
    return wrong, sum(verdict.values())


def op_layers(probe, tr, span, groups, out, p) -> dict:
    """Layer counters of one finished operation."""
    from tracing import stream_counters

    probe.settle()
    dur = {s.name: s.end - s.start for s in tr.spans if s.parent == span.id}
    runs = sorted({b["runId"] for b in out.progress} if out else [])  # micro-batch job groups
    jobs = probe.take_jobs(groups + runs)
    build = set(probe.jobs([g for g in groups if g.endswith("/build")]))
    read = set(probe.jobs([g for g in groups if g.endswith("/read")]))
    return {
        "pass": p,
        "build_s": dur.get("build", 0.0),
        "build_jobs": len(build),
        "action_s": dur.get("action", 0.0) + dur.get("batch", 0.0) + dur.get("read", 0.0),
        "read_s": dur.get("read", 0.0),
        "jc": probe.job_counters(jobs),
        "read_jc": probe.job_counters(sorted(read)),
        "sql": probe.sql_counters(),
        "held_b": probe.held_bytes(),
        "rows": out.rows if out else 0,
        "stream": stream_counters(out.progress) if out and out.progress else None,
    }


def scan_tables(spark, probe, wl) -> dict:
    """Load plus full digest of each table the workload reads."""
    from digest import digest
    from rust_ruuvitag_etl_spark import sources

    total = {"s": 0.0, "tasks": 0, "input_b": 0}
    for i, t in enumerate(wl.tables):
        gid = f"scan/{t}/{i}"
        spark.sparkContext.setJobGroup(gid, gid)
        t0 = time.perf_counter()
        digest(sources.load(spark, wl.sf_dir, t))
        total["s"] += time.perf_counter() - t0
        probe.settle()
        jc = probe.job_counters(probe.jobs([gid]))
        total["tasks"] += jc["tasks"]
        total["input_b"] += jc["input_b"]
    return total


def layer_metrics(layers, passes, scan, start_s, trace_s, wl) -> dict:
    from tracing import MB, median

    ls = [r for r in layers if r["pass"] >= 1]
    steady = passes[1:]
    n = len(steady)
    cores = usable_cores()

    def tot(f):
        return sum(f(r) for r in ls) / n

    wall = sum(o["lat"] for ps in steady for o in ps["ops"])
    run_s = tot(lambda r: r["jc"]["run_s"])
    rows = sum(r["sql"]["rows"] for r in ls)
    results = sum(r["rows"] for r in ls)
    streams = [r["stream"] for r in ls if r["stream"]]
    ends = [ps["written"] for ps in steady if ps["written"]]
    if not wl.tables:  # ingest scans only its own snapshot table, read back per batch
        scan = {"s": tot(lambda r: r["read_s"]), "tasks": tot(lambda r: r["read_jc"]["tasks"]),
                "input_b": tot(lambda r: r["read_jc"]["input_b"])}
    files = median([w[0] for w in ends])
    written = median([w[1] for w in ends])
    return {
        "session.start_s": (start_s, "s"),
        "plans.build_s": (tot(lambda r: r["build_s"]), "s"),
        "plans.build_jobs": (tot(lambda r: r["build_jobs"]), "count"),
        "sources.scan_s": (scan["s"], "s"),
        "sources.scan_tasks": (scan["tasks"], "count"),
        "sources.input_mb": (scan["input_b"] / MB, "MB"),
        "sources.files_written": (files, "count"),
        "sources.write_amp": (written / wl.poll_bytes if ends else 0.0, "ratio"),
        "exec.action_s": (tot(lambda r: r["action_s"]), "s"),
        "exec.jobs": (tot(lambda r: r["jc"]["jobs"]), "count"),
        "exec.stages": (tot(lambda r: r["jc"]["stages"]), "count"),
        "exec.tasks": (tot(lambda r: r["jc"]["tasks"]), "count"),
        "exec.run_s": (run_s, "s"),
        "exec.cpu_s": (tot(lambda r: r["jc"]["cpu_s"]), "s"),
        "exec.gc_s": (tot(lambda r: r["jc"]["gc_s"]), "s"),
        "exec.busy_frac": (run_s * n / (wall * cores), "ratio"),
        "exec.cpu_frac": (tot(lambda r: r["jc"]["cpu_s"]) / run_s if run_s else 0.0, "ratio"),
        "exec.rows_per_result": (rows / results if results else 0.0, "ratio"),
        "exec.task_failures": (tot(lambda r: r["jc"]["failed"]), "count"),
        "shuffle.write_mb": (tot(lambda r: r["jc"]["shuffle_w"]) / MB, "MB"),
        "shuffle.read_mb": (tot(lambda r: r["jc"]["shuffle_r"]) / MB, "MB"),
        "shuffle.fetch_wait_s": (tot(lambda r: r["jc"]["fetch_wait_s"]), "s"),
        "shuffle.spill_mb": (tot(lambda r: r["jc"]["spill_b"]) / MB, "MB"),
        "python.run_s": (tot(lambda r: r["sql"]["py_run"]), "s"),
        "python.boot_s": (tot(lambda r: r["sql"]["py_boot"]), "s"),
        "python.sent_mb": (tot(lambda r: r["sql"]["py_sent"]) / MB, "MB"),
        "python.returned_mb": (tot(lambda r: r["sql"]["py_returned"]) / MB, "MB"),
        "streaming.batches": (sum(s["batches"] for s in streams) / n, "count"),
        "streaming.batch_p50_s": (median([b for s in streams for b in s["batch_s"]]), "s"),
        "streaming.sink_s": (sum(s["sink_s"] for s in streams) / n, "s"),
        "streaming.state_commit_s": (sum(s["commit_s"] for s in streams) / n, "s"),
        "streaming.state_rows": (max((s["state_rows"] for s in streams), default=0), "count"),
        "streaming.state_mb": (max((s["state_b"] for s in streams), default=0) / MB, "MB"),
        "storage.held_mb": (max(r["held_b"] for r in ls) / MB, "MB"),
        "trace.overhead_frac": (trace_s / sum(ps["wall"] for ps in passes), "ratio"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=50)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="0.01", help="fixture scale factor (0.01 or 0.001)")
    ap.add_argument("--prepare", metavar="WORKLOAD", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.prepare:
        prepare_expected(args.prepare, args.scale)
        return 0
    if not args.workload:
        ap.error("--workload is required")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
