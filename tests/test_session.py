"""Session configs on a driver-owned session, the engine's Python worker
daemon, and the shuffle-partition rule (session.size_shuffle_partitions):
shuffle and state-store partitions follow the session's task slots, a
deployment-tuned value is kept, and a checkpoint keeps the count it
started with."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from rust_ruuvitag_etl_spark import pydaemon
from rust_ruuvitag_etl_spark.operators import ruuvi_pipeline as rp
from rust_ruuvitag_etl_spark.session import ensure_session_configs
from rust_ruuvitag_etl_spark.sources import snapshots as sn
from rust_ruuvitag_etl_spark.streaming import pipeline as sp

from .fixtures import READINGS_SCHEMA, readings_rows
from .fixtures import ts as _ts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHUFFLE = "spark.sql.shuffle.partitions"
# Far-future reading: its watermark closes every fixture window.
SENTINEL_MAC = "ZZ:ZZ:ZZ:ZZ:ZZ:ZZ"
_SENTINEL = (SENTINEL_MAC, _ts(24 * 60), 0.0, 0.0, 1000.0, 0.0, 0.0, 0.0, 0)


def _store_ids(names: list[str]) -> list[int]:
    """Partition ids of the state stores of operator 0 (the directory
    also holds ``_metadata``)."""
    return sorted(int(n) for n in names if n.isdigit())


class TestSessionConfigs:
    def test_ensure_session_configs_sets_the_broadcast_threshold(self, spark):
        """A driver-owned session at Spark's 10 MB default gets the same
        64 MB broadcast threshold a ``get_spark`` session is built with."""
        key = "spark.sql.autoBroadcastJoinThreshold"
        s = spark.newSession()
        s.conf.set(key, "10485760")
        ensure_session_configs(s)
        assert s.conf.get(key) == str(64 * 1024 * 1024)

    def test_python_workers_run_the_engine_daemon(self, spark):
        """A ``get_spark`` session's Python workers are forked by
        ``pydaemon``, so their zip importers carry its memo."""

        def qualname(batches):
            import zipimport

            import pandas as pd

            for b in batches:
                name = zipimport.zipimporter.invalidate_caches.__qualname__
                yield pd.DataFrame({"q": [name] * len(b)})

        got = {r.q for r in spark.range(8).mapInPandas(qualname, "q string").collect()}
        assert got == {pydaemon.invalidate_unless_unchanged.__qualname__}

    def test_workers_import_the_package_from_any_directory(self, tmp_path):
        """A ``get_spark`` session started outside the repo, with no
        ``PYTHONPATH`` and the package only on the driver's ``sys.path``,
        still runs Python tasks: the daemon imports on the workers."""
        script = textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            from rust_ruuvitag_etl_spark.session import get_spark

            def double(batches):
                for b in batches:
                    yield b * 2

            spark = get_spark("outside-repo", master="local[1]")
            rows = spark.range(4).mapInPandas(double, "id long").collect()
            print(sorted(r.id for r in rows))
            spark.stop()
            """
        )
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        out = subprocess.run(
            [sys.executable, "-c", script],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert out.stdout.strip().splitlines()[-1] == "[0, 2, 4, 6]"


class TestShufflePartitionRule:
    def test_local2_stream_creates_two_state_partitions(self, tmp_path):
        """A windowed aggregation on a ``get_spark`` session at local[2]
        keeps one state store per task slot. Runs in a subprocess: the
        test session's context is process-global and fixed at local[4]."""
        script = textwrap.dedent(
            f"""
            import json, os
            from rust_ruuvitag_etl_spark.session import get_spark
            from rust_ruuvitag_etl_spark.streaming import pipeline as sp
            from tests.fixtures import READINGS_SCHEMA, readings_rows

            spark = get_spark("state-partitions", master="local[2]")
            src, ck = {str(tmp_path / "src")!r}, {str(tmp_path / "ck")!r}
            spark.createDataFrame(readings_rows(), READINGS_SCHEMA).coalesce(
                1).write.parquet(src)
            stream = sp.windowed_averages_stream(
                sp.read_readings_stream(spark, src, READINGS_SCHEMA))
            sp.write_parquet_sink(
                stream, {str(tmp_path / "sink")!r}, ck).awaitTermination()
            print(json.dumps({{
                "shuffle": spark.conf.get("{SHUFFLE}"),
                "stores": os.listdir(os.path.join(ck, "state", "0")),
            }}))
            spark.stop()
            """
        )
        env = dict(os.environ, PYTHONPATH=REPO)
        out = subprocess.run(
            [sys.executable, "-c", script],
            check=True, cwd=REPO, env=env, capture_output=True, text=True,
            timeout=300,
        )
        got = json.loads(out.stdout.strip().splitlines()[-1])
        assert got["shuffle"] == "2"
        assert _store_ids(got["stores"]) == [0, 1]

    def test_ensure_session_configs_sizes_the_builtin_default(self, spark):
        s = spark.newSession()
        s.conf.set(SHUFFLE, "200")
        ensure_session_configs(s)
        assert s.conf.get(SHUFFLE) == str(spark.sparkContext.defaultParallelism)

    def test_ensure_session_configs_keeps_a_tuned_value(self, spark):
        s = spark.newSession()
        s.conf.set(SHUFFLE, "7")
        ensure_session_configs(s)
        assert s.conf.get(SHUFFLE) == "7"


class TestCheckpointRestart:
    def test_restart_at_fewer_partitions_resumes_the_state(self, spark, tmp_path):
        """A stream started at 8 partitions holds open windows when it
        stops; restarted on the same checkpoint at 2 partitions, it still
        reads its 8 stores (Spark pins the count in the offset log) and
        publishes every window exactly once, equal to the batch twin."""
        src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
        table = str(tmp_path / "table")
        rows = readings_rows()
        first = [r for r in rows if r[1] < _ts(15)]
        closing = [r for r in rows if r[1] >= _ts(15)] + [_SENTINEL]
        assert first and len(closing) > 1

        def run(partitions: str, batch: list[tuple]) -> None:
            s = spark.newSession()
            s.conf.set(SHUFFLE, partitions)
            s.createDataFrame(batch, READINGS_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            stream = sp.windowed_averages_stream(
                sp.read_readings_stream(s, src, READINGS_SCHEMA)
            )
            sn.write_stream_snapshots(stream, table, ck).awaitTermination()

        run("8", first)
        assert sn.read_snapshot(spark, table).count() == 0  # windows open
        run("2", closing)
        stores = os.listdir(os.path.join(ck, "state", "0"))
        assert _store_ids(stores) == list(range(8))

        got = sn.read_snapshot(spark, table).filter(
            F.col("sensor_mac") != SENTINEL_MAC
        )
        want = rp.window_aggregate(
            spark.createDataFrame(rows, READINGS_SCHEMA)
        ).select(*got.columns)
        got_rows, want_rows = got.collect(), want.collect()
        keys = [(r["sensor_mac"], r["time"]) for r in got_rows]
        assert len(keys) == len(set(keys))
        assert sorted(map(tuple, got_rows)) == sorted(map(tuple, want_rows))
