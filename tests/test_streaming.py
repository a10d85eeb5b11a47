"""Streaming tests: batch-streaming parity (the streaming pipeline on a
bounded fixture must equal its batch twin), watermark dedup, sliding and
session windows, and the foreachBatch parquet sink."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rust_ruuvitag_etl_spark.operators import ruuvi_pipeline as rp
from rust_ruuvitag_etl_spark.streaming import pipeline as sp

from .fixtures import READINGS_SCHEMA, readings_rows


from .fixtures import ts as _ts

# Far-future row that advances the watermark so append-mode emits every
# real window before the bounded stream terminates; filtered from all
# comparisons. (Without it the last window stays in state forever —
# correct watermark semantics, inconvenient for equality tests.)
SENTINEL_MAC = "ZZ:ZZ:ZZ:ZZ:ZZ:ZZ"
_SENTINEL = (SENTINEL_MAC, _ts(24 * 60), 0.0, 0.0, 1000.0, 0.0, 0.0, 0.0, 0)


def _strip(rows):
    return [r for r in rows if r["sensor_mac"] != SENTINEL_MAC]


@pytest.fixture(scope="module")
def readings_dir(spark):
    d = tempfile.mkdtemp(prefix="readings_stream_")
    df = spark.createDataFrame(readings_rows() + [_SENTINEL], READINGS_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestBatchStreamingParity:
    def test_windowed_averages_match_batch(self, spark, readings_dir):
        stream = sp.read_readings_stream(spark, readings_dir, READINGS_SCHEMA)
        agg = sp.windowed_averages_stream(stream)
        got = _strip(sp.run_available_now(agg, "stream_win", "append").collect())
        batch = rp.window_aggregate(
            spark.createDataFrame(readings_rows(), READINGS_SCHEMA)
        ).collect()

        def key(r):
            return (r["sensor_mac"], r["time"].isoformat())

        got_map = {key(r): r for r in got}
        batch_map = {key(r): r for r in batch}
        assert set(got_map) == set(batch_map)
        for k in batch_map:
            for c in ("temperature", "humidity", "movement_delta", "samples"):
                assert got_map[k][c] == batch_map[k][c], (k, c)


class TestStreamingDedup:
    def test_drop_duplicates_with_watermark(self, spark):
        d = tempfile.mkdtemp(prefix="dups_")
        try:
            df = spark.createDataFrame(
                [
                    ("M1", 1, "2024-06-01T00:00:00", 1.0),
                    ("M1", 1, "2024-06-01T00:00:10", 2.0),  # dup key, dropped
                    ("M1", 2, "2024-06-01T00:01:00", 3.0),
                ],
                "sensor_mac string, scan_id long, ts_s string, temperature double",
            ).select(
                "sensor_mac",
                "scan_id",
                F.col("ts_s").cast("timestamp").alias("ts"),
                "temperature",
            )
            df.coalesce(1).write.mode("overwrite").parquet(d)
            stream = sp.read_readings_stream(
                spark, d, "sensor_mac string, scan_id long, ts timestamp, temperature double"
            )
            out = sp.run_available_now(
                sp.dedup_stream(stream), "stream_dedup", "append"
            ).collect()
            assert len(out) == 2  # one per (mac, scan)
            kept = {(r["sensor_mac"], r["scan_id"]) for r in out}
            assert kept == {("M1", 1), ("M1", 2)}
        finally:
            shutil.rmtree(d, ignore_errors=True)


class TestWindows:
    def test_sliding_means(self, spark, readings_dir):
        stream = sp.read_readings_stream(spark, readings_dir, READINGS_SCHEMA)
        out = _strip(
            sp.run_available_now(
                sp.sliding_means_stream(
                    stream, window="30 minutes", slide="10 minutes"
                ),
                "stream_slide",
                "append",
            ).collect()
        )
        # Each sensor-01 window-0 reading lands in 3 overlapping windows.
        w = [r for r in out if r["sensor_mac"] == "AA:BB:CC:DD:EE:01"]
        assert len(w) > len({r["window_start"] for r in out if r["sensor_mac"] == "AA:BB:CC:DD:EE:02"})
        assert all(r["samples"] >= 1 for r in out)

    def test_session_windows(self, spark, readings_dir):
        stream = sp.read_readings_stream(spark, readings_dir, READINGS_SCHEMA)
        out = _strip(
            sp.run_available_now(
                sp.session_windows_stream(stream, gap="6 minutes", key="sensor_mac"),
                "stream_sess",
                "append",
            ).collect()
        )
        by_key = {}
        for r in out:
            by_key.setdefault(r["sensor_mac"], []).append(r)
        # Sensor 01: readings every 5 min 0..25, then 30..40 — a 6-min gap
        # keeps them in ONE session (25→30 is 5 min < 6); sensor 02 has
        # one burst. The silent sensor 42 appears in no session.
        assert "AA:BB:CC:DD:EE:42" not in by_key
        s01 = by_key["AA:BB:CC:DD:EE:01"]
        assert sum(r["n_events"] for r in s01) == 9
        assert len(s01) == 1
        for r in out:
            assert r["session_end"] > r["session_start"]


class TestSink:
    def test_foreach_batch_parquet_sink(self, spark, readings_dir):
        out_dir = tempfile.mkdtemp(prefix="sink_out_")
        ckpt = tempfile.mkdtemp(prefix="sink_ckpt_")
        try:
            stream = sp.read_readings_stream(spark, readings_dir, READINGS_SCHEMA)
            agg = sp.windowed_averages_stream(stream)
            q = sp.write_parquet_sink(agg, out_dir, ckpt)
            q.awaitTermination()
            written = spark.read.parquet(out_dir).filter(
                F.col("sensor_mac") != SENTINEL_MAC
            )
            batch = rp.window_aggregate(
                spark.createDataFrame(readings_rows(), READINGS_SCHEMA)
            )
            assert written.count() == batch.count()
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)

    def test_replayed_batch_overwrites_not_duplicates(self, spark, readings_dir):
        """A micro-batch replayed after a failure must overwrite its own
        batch_id partition, not append a duplicate copy (the sink's
        exactly-once convention replacing the reference's retry loop)."""
        out_dir = tempfile.mkdtemp(prefix="sink_replay_")
        try:
            df = rp.window_aggregate(
                spark.createDataFrame(readings_rows(), READINGS_SCHEMA)
            )
            df.write.mode("overwrite").parquet(f"{out_dir}/batch_id=0")
            df.write.mode("overwrite").parquet(f"{out_dir}/batch_id=0")  # replay
            assert spark.read.parquet(out_dir).count() == df.count()
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)


class TestStreamStreamIntervalJoin:
    def test_matches_batch_range_join(self, spark):
        """Stream-stream interval join (dual watermarks bounding both
        state stores) must produce exactly the rows of the equivalent
        batch range join on a bounded input."""
        from rust_ruuvitag_etl_spark.sources.tables import (
            events_read_schema,
            events_ts_expr,
        )
        from rust_ruuvitag_etl_spark.streaming import pipeline as sp

        sf = "/root/testdata/sf0.001"
        path = f"{sf}/events.parquet"
        batch_ev = (
            spark.read.schema(events_read_schema(spark, path))
            .parquet(path)
            .withColumn("ts", events_ts_expr(spark, path))
        )

        def stream():
            return (
                spark.readStream.schema(events_read_schema(spark, path))
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf)
                .withColumn("ts", events_ts_expr(spark, path))
            )

        purchases = (
            stream().filter(F.col("event_type") == "purchase")
            .select("user_id", "ts", F.col("event_id").alias("purchase_id"))
        )
        views = (
            stream().filter(F.col("event_type") == "view")
            .select("user_id", "ts", F.col("event_id").alias("view_id"))
        )
        joined = sp.interval_join_streams(
            purchases.withColumnRenamed("ts", "ts"),
            views,
            key="user_id",
            ts_col="ts",
        ).select("purchase_id", "view_id")
        rows = sp.run_available_now(joined, "ssj_out", "append").collect()
        got = {(r["purchase_id"], r["view_id"]) for r in rows}

        bp = batch_ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("pu"), F.col("ts").alias("pts"),
            F.col("event_id").alias("purchase_id"),
        )
        bv = batch_ev.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("vu"), F.col("ts").alias("vts"),
            F.col("event_id").alias("view_id"),
        )
        expected = {
            (r["purchase_id"], r["view_id"])
            for r in bp.join(
                bv,
                (F.col("pu") == F.col("vu"))
                & (F.col("vts") > F.col("pts") - F.expr("INTERVAL 1 HOUR"))
                & (F.col("vts") <= F.col("pts")),
            ).collect()
        }
        assert got == expected
        assert len(got) > 0


class TestSessionBoundary:
    """Pins Spark's MEASURED session-window boundary semantics: an event
    arriving exactly gap-duration after its predecessor MERGES into the
    same session; a new session opens only when the gap strictly
    exceeds the duration. The gaps-and-islands oracles therefore use
    strict > (a round-3 advice note suggested >=; this test shows that
    would diverge from Spark exactly at the boundary)."""

    def _sessions(self, spark, gap2_seconds):
        import datetime as dt

        base = dt.datetime(2024, 1, 1, 12, 0, 0)
        rows = [
            (1, base, 1),
            (1, base + dt.timedelta(seconds=gap2_seconds), 2),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long"
        )
        spark_n = (
            df.groupBy("user_id", F.session_window("ts", "5 minutes"))
            .count()
            .count()
        )
        import duckdb

        con = duckdb.connect()
        con.register("ev", df.toPandas())
        oracle_n = con.execute(
            """
            SELECT COUNT(DISTINCT session_no) FROM (
                SELECT SUM(chg) OVER (ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_no
                FROM (SELECT ts, event_id,
                        CASE WHEN LAG(ts) OVER (ORDER BY ts, event_id) IS NULL
                             OR date_diff('millisecond',
                                    LAG(ts) OVER (ORDER BY ts, event_id), ts)
                                > 300000
                        THEN 1 ELSE 0 END AS chg FROM ev))
            """
        ).fetchone()[0]
        return spark_n, oracle_n

    def test_exact_gap_merges_in_both_engines(self, spark):
        assert self._sessions(spark, 300) == (1, 1)  # == gap: one session

    def test_gap_exceeded_splits_in_both_engines(self, spark):
        assert self._sessions(spark, 301) == (2, 2)  # > gap: two sessions


class TestCheckpointRestart:
    def test_restart_resumes_exactly_once(self, spark, tmp_path):
        """Exactly-once resumption across restarts: a second availableNow
        run sharing the first run's checkpoint must process ONLY files
        that arrived after the first run drained — re-processing would
        duplicate batch-1 rows in the sink; skipping would lose batch-2.
        This is the reference's retry/at-least-once posture (S2,
        connection.rs:52-134) upgraded to checkpointed exactly-once."""
        import pyspark.sql.functions as F

        from rust_ruuvitag_etl_spark.streaming.pipeline import write_parquet_sink

        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")

        def write_batch(ids):
            spark.createDataFrame([(i,) for i in ids], "id long").coalesce(
                1
            ).write.mode("append").parquet(src)

        def drain():
            stream = (
                spark.readStream.schema("id long")
                .parquet(src)
                .withColumn("doubled", F.col("id") * 2)
            )
            q = write_parquet_sink(stream, sink, ckpt)
            q.awaitTermination()

        write_batch(range(0, 100))
        drain()
        first = spark.read.parquet(sink).count()
        assert first == 100

        write_batch(range(100, 130))
        drain()  # same checkpoint → only the new file is processed
        out = spark.read.parquet(sink)
        assert out.count() == 130  # 230 would mean batch 1 re-processed
        got = sorted(r["id"] for r in out.collect())
        assert got == list(range(130))  # no dupes, no gaps
        assert out.filter(F.col("doubled") != F.col("id") * 2).count() == 0


class TestEventsTsProbeCache:
    """ADVICE r3: the footer-probe cache must not defeat the per-session
    nanos conf, and must notice a regenerated file at the same path."""

    def test_nanos_conf_reapplied_on_warm_cache(self, spark):
        from rust_ruuvitag_etl_spark.sources import tables as tb

        path = "/root/testdata/sf0.001/events.parquet"
        tb._events_ts_type(spark, path)  # warm the cache
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        tb._events_ts_type(spark, path)  # warm hit must still set conf
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"

    def test_cache_invalidates_when_file_regenerated(self, spark):
        import os
        import shutil
        import tempfile

        from pyspark.sql import types as T

        from rust_ruuvitag_etl_spark.sources import tables as tb

        d = tempfile.mkdtemp(prefix="ts_probe_")
        path = f"{d}/events.parquet"
        try:
            base = spark.range(3).select(
                F.col("id").alias("event_id"),
                F.col("id").alias("user_id"),
                F.lit("view").alias("event_type"),
                F.lit(1.0).alias("value"),
                F.lit("{}").alias("props"),
            )
            base.withColumn("ts", F.lit(1).cast("long")).write.mode(
                "overwrite"
            ).parquet(path)
            t1 = tb._events_ts_type(spark, path)
            assert isinstance(t1, T.LongType)
            base.withColumn(
                "ts", F.timestamp_micros(F.lit(1))
            ).write.mode("overwrite").parquet(path)
            # ensure a distinct mtime even on coarse filesystems
            os.utime(path, (os.path.getmtime(path) + 2,) * 2)
            t2 = tb._events_ts_type(spark, path)
            assert isinstance(t2, (T.TimestampType, T.TimestampNTZType))
        finally:
            shutil.rmtree(d, ignore_errors=True)


class TestStreamingDedupDelta:
    def test_matches_batch_on_driver_corpus(self, spark):
        """The stream-static fingerprint join must produce exactly the
        batch dedup_incremental_delta rows on a bounded input."""
        from rust_ruuvitag_etl_spark.plans.llm5 import dedup_incremental_delta
        from rust_ruuvitag_etl_spark.plans.llm6 import streaming_dedup_delta

        sf = "/root/testdata/sf0.001"
        batch = {
            (r["doc_id"], r["canonical_id"], r["is_dup"])
            for r in dedup_incremental_delta(spark, sf).collect()
        }
        stream = {
            (r["doc_id"], r["canonical_id"], r["is_dup"])
            for r in streaming_dedup_delta(spark, sf).collect()
        }
        assert stream == batch and len(stream) == 50

    def test_planted_dups_resolve_to_canonical(self, spark):
        """The driver corpus has no EXACT-fingerprint dups in its delta
        (near-dups only), so plant some: delta docs 10/20 copy existing
        docs 3/7 (modulo whitespace/case, which the fingerprint
        normalizes away), doc 30 is genuinely new. Both engines must
        agree and find the planted canonicals."""
        import shutil
        import tempfile

        from rust_ruuvitag_etl_spark.plans.llm5 import dedup_incremental_delta
        from rust_ruuvitag_etl_spark.plans.llm6 import streaming_dedup_delta

        d = tempfile.mkdtemp(prefix="sdd_")
        try:
            rows = [
                (3, "alpha beta gamma", "en", "web", 16),
                (7, "delta epsilon", "en", "web", 13),
                (9, "unrelated text", "en", "web", 14),
                (10, "  Alpha   beta GAMMA ", "en", "crawl", 21),
                (20, "DELTA  epsilon", "en", "crawl", 14),
                (30, "brand new document", "en", "crawl", 18),
            ]
            # single FILE named documents.parquet (the driver testdata
            # layout the file-stream glob expects), not a Spark dir
            import pyarrow as pa
            import pyarrow.parquet as pq

            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                        "text": [r[1] for r in rows],
                        "lang": [r[2] for r in rows],
                        "source": [r[3] for r in rows],
                        "n_chars": pa.array([r[4] for r in rows], pa.int64()),
                    }
                ),
                f"{d}/documents.parquet",
            )
            expect = {(10, 3, True), (20, 7, True), (30, None, False)}
            batch = {
                (r["doc_id"], r["canonical_id"], r["is_dup"])
                for r in dedup_incremental_delta(spark, d).collect()
            }
            stream = {
                (r["doc_id"], r["canonical_id"], r["is_dup"])
                for r in streaming_dedup_delta(spark, d).collect()
            }
            assert batch == expect
            assert stream == expect
        finally:
            shutil.rmtree(d, ignore_errors=True)


class TestStreamingEwma:
    def test_state_survives_batch_boundaries(self, spark, tmp_path):
        """Two files arriving as separate micro-batches must produce the
        same smoothing as one batch: the carried 7-sample state is the
        whole correctness story."""
        import datetime as dt

        from pyspark.sql import functions as F

        from rust_ruuvitag_etl_spark.streaming.stateful import ewma_stream

        sch = (
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        t0 = dt.datetime(2024, 3, 4, 10, 0, 0)
        rows_a = [
            (i, t0 + dt.timedelta(minutes=i), 1, "view", float(i + 1), "{}")
            for i in range(5)
        ]
        rows_b = [
            (i, t0 + dt.timedelta(minutes=i), 1, "view", float(i + 1), "{}")
            for i in range(5, 10)
        ]
        src = f"{tmp_path}/stream_src"
        spark.createDataFrame(rows_a, sch).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)

        out = f"{tmp_path}/ewma_out"

        def drain(qname):
            # ONE shared checkpoint + a DURABLE sink (memory sinks
            # cannot recover from a checkpoint): the second run must
            # restore the state store and process only the new file.
            q = (
                ewma_stream(
                    spark.readStream.schema(sch)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(src)
                    .select("event_id", "event_type", "ts", "value")
                )
                .writeStream.format("parquet")
                .queryName(qname)
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", f"{tmp_path}/ck_shared")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            rows = spark.read.parquet(out).collect()
            return rows, {
                r["event_id"]: (r["ewma_num"], r["ewma_den"]) for r in rows
            }

        first_rows, first = drain("ewma_two_batches")
        assert len(first_rows) == 5
        # Second file lands; restart from the SAME checkpoint so the
        # state store carries the 7-sample window across the boundary.
        spark.createDataFrame(rows_b, sch).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        all_rows, got = drain("ewma_two_batches_resumed")
        # Restored checkpoint → only the 5 new events were processed:
        # exactly 10 raw rows in the sink. A from-scratch reprocess
        # would have appended ten more (15+ raw rows).
        assert len(all_rows) == 10
        assert len(got) == 10

        # Reference: the batch-at-once fold.
        weights = [2**k for k in range(8)]
        for eid in range(10):
            window = [v + 1 for v in range(max(0, eid - 7), eid + 1)]
            num = sum(
                w * int(v * 1_000_000)
                for w, v in zip(weights[-len(window):], window)
            )
            den = sum(weights[-len(window):])
            assert got[eid] == (num, den), eid

    def test_out_of_order_batches_raise(self, spark, tmp_path):
        """The enforced ordering sentinel: a micro-batch whose rows
        precede the state's (ts, event_id) high-water mark must FAIL
        loudly (a silent arrival-order fold would diverge from the
        batch LAG oracle). Two mtime-pinned files under
        maxFilesPerTrigger=1: batch 1 carries the LATER timestamps,
        batch 2 the earlier ones."""
        import datetime as dt
        import glob
        import os

        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from rust_ruuvitag_etl_spark.streaming.stateful import ewma_stream

        sch = "event_id long, ts timestamp, event_type string, value double"
        t0 = dt.datetime(2024, 3, 4, 10, 0, 0)
        later = [
            (i, t0 + dt.timedelta(minutes=i), "view", float(i))
            for i in range(5, 10)
        ]
        earlier = [
            (i, t0 + dt.timedelta(minutes=i), "view", float(i))
            for i in range(5)
        ]
        data = f"{tmp_path}/ooo_src"
        os.makedirs(data)
        for n, rows in (("1", later), ("2", earlier)):
            staged = f"{tmp_path}/_stage{n}"
            spark.createDataFrame(rows, sch).coalesce(1).write.parquet(
                staged
            )
            part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
            dst = os.path.join(data, f"{n}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_700_000_000 + 60 * int(n),) * 2)
        q = (
            ewma_stream(
                spark.readStream.schema(sch)
                .option("maxFilesPerTrigger", "1")
                .parquet(data)
            )
            .writeStream.format("memory")
            .queryName("ewma_ooo_guard")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp_path}/ck_ooo")
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException) as exc:
            q.awaitTermination()
        assert "ordering contract violated" in str(exc.value)


class TestLeftOuterIntervalJoin:
    def test_null_rows_gated_by_global_watermark(self, spark, tmp_path):
        """Pins the left-outer emission rule the registry oracle
        encodes: matched pairs emit; an unmatched left row emits
        (left, NULL) iff its ts < min(both streams' max ts) - delay
        (the global min-policy watermark); younger unmatched rows
        never emit."""
        import datetime as dt

        from rust_ruuvitag_etl_spark.streaming.pipeline import (
            interval_join_streams,
        )

        t0 = dt.datetime(2024, 1, 1)
        m = lambda mins: t0 + dt.timedelta(minutes=mins)
        # purchases: 1000 matches a view; 1001 unmatched + old (emits
        # null); 1002 matches; 1003 unmatched + young (never emits).
        p = [(1, m(10), 1000), (1, m(100), 1001),
             (1, m(500), 1002), (1, m(590), 1003)]
        v = [(1, m(5), 2000), (1, m(470), 2001), (1, m(600), 2002)]
        spark.createDataFrame(
            p, "user_id long, ts timestamp, purchase_id long"
        ).coalesce(1).write.parquet(f"{tmp_path}/p")
        spark.createDataFrame(
            v, "user_id long, ts timestamp, view_id long"
        ).coalesce(1).write.parquet(f"{tmp_path}/v")
        ps = spark.readStream.schema(
            "user_id long, ts timestamp, purchase_id long"
        ).parquet(f"{tmp_path}/p")
        vs = spark.readStream.schema(
            "user_id long, ts timestamp, view_id long"
        ).parquet(f"{tmp_path}/v")
        j = interval_join_streams(
            ps, vs, max_gap="1 hour", watermark="2 hours",
            how="left_outer",
        ).select("purchase_id", "view_id")
        q = (
            j.writeStream.format("memory")
            .queryName("loij_pin")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["purchase_id"], r["view_id"])
            for r in spark.table("loij_pin").collect()
        }
        # global watermark = min(590, 600) - 120 = minute 470:
        # 1001 (ts 100) emits null-extended, 1003 (ts 590) does not.
        assert got == {(1000, 2000), (1002, 2001), (1001, None)}

    def test_unsupported_join_type_rejected(self, spark):
        import pytest as _pytest

        from rust_ruuvitag_etl_spark.streaming.pipeline import (
            interval_join_streams,
        )

        df = spark.range(1).select(
            F.col("id").alias("user_id"),
            F.current_timestamp().alias("ts"),
        )
        with _pytest.raises(ValueError, match="unsupported join type"):
            interval_join_streams(df, df, how="full_outer")


class TestLateDataDiscard:
    """Append-mode watermark discard semantics, pinned with explicit
    planted rows: a late event whose window closed two triggers ago is
    DROPPED; its on-time twin (same window, arrived with the window's
    data) is KEPT. Also pins the one-batch lag of Spark's late-event
    filter (watermarkForLateEvents trails watermarkForEviction), which
    the registry query streaming_late_data_discard's oracle encodes."""

    def _drain(self, spark, files, name):
        import glob
        import os

        root = tempfile.mkdtemp(prefix="late_pin_")
        data = os.path.join(root, "data")
        os.makedirs(data)
        for i, rows in enumerate(files, start=1):
            df = spark.createDataFrame(rows, "uid long, ts timestamp")
            staged = os.path.join(root, f"_s{i}")
            df.coalesce(1).write.parquet(staged)
            part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
            dst = os.path.join(data, f"{i}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
        stream = (
            spark.readStream.schema("uid long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(data)
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy("uid", F.window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select("uid", F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            p["stateOperators"][0]["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            if p["stateOperators"]
        )
        out = {
            (r["uid"], str(r["ws"])): r["n"]
            for r in spark.table(name).collect()
        }
        shutil.rmtree(root, ignore_errors=True)
        return out, dropped

    def test_late_event_dropped_on_time_twin_kept(self, spark):
        import datetime as dt

        T = lambda m: dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=m)
        # batch 1: the on-time twin (uid 1) in W0 plus a 00:44 row that
        # advances the watermark to 00:34 > W0.end; batch 2: recent rows
        # (the lagged late-filter batch); batch 3: the LATE row into W0.
        out, dropped = self._drain(
            spark,
            [
                [(1, T(5)), (2, T(44))],
                [(2, T(180))],
                [(1, T(6))],  # late: W0 closed since end of batch 1
            ],
            "late_pin_main",
        )
        assert dropped == 1
        # W0 for uid 1 holds ONLY the on-time twin.
        assert out[(1, "2024-01-01 00:00:00")] == 1
        # The trailing window (ts 03:00) is never finalized in append
        # mode: the watermark stops at 02:59... (max 03:00 - 10 min).
        assert (2, "2024-01-01 03:00:00") not in out

    def test_late_filter_lags_eviction_by_one_batch(self, spark):
        import datetime as dt

        T = lambda m: dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=m)
        # Same shape but the late row arrives only ONE trigger after
        # W0's data: the late filter still runs with the PREVIOUS
        # watermark (1970), so the row is absorbed before eviction.
        out, dropped = self._drain(
            spark,
            [
                [(1, T(5)), (2, T(44))],
                [(1, T(6)), (2, T(180))],
            ],
            "late_pin_lag",
        )
        assert dropped == 0
        assert out[(1, "2024-01-01 00:00:00")] == 2


class TestStreamingStatefulTopk:
    def test_topk_state_spans_micro_batches(self, spark, tmp_path):
        """The leaderboard must MERGE across batches: batch 2's 9.5
        slots between batch 1's 10.0 and 9.0 — a per-batch top-k with
        no carried state would emit (9.5, 0.5) for batch 2 instead."""
        import datetime as dt

        from rust_ruuvitag_etl_spark.streaming.stateful import topk_stream

        sch = (
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        )
        t0 = dt.datetime(2024, 1, 1)
        rows_a = [
            (1, t0, 1, "m", 10.0, "{}"),
            (2, t0, 1, "m", 9.0, "{}"),
            (3, t0, 1, "m", 1.0, "{}"),
        ]
        rows_b = [
            (4, t0, 1, "m", 9.5, "{}"),
            (5, t0, 1, "m", 0.5, "{}"),
        ]
        src = f"{tmp_path}/topk_src"
        spark.createDataFrame(rows_a, sch).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        spark.createDataFrame(rows_b, sch).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .select("event_type", "event_id", "value")
        )
        name = "topk_two_batches"
        q = (
            topk_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table(name).collect()
        # two emissions (n_seen 3 then 5); the final snapshot merges
        by_n = {}
        for r in rows:
            by_n.setdefault(r["n_seen"], []).append(
                (r["rank"], r["event_id"], r["value"])
            )
        assert set(by_n) == {3, 5}
        assert sorted(by_n[3]) == [(1, 1, 10.0), (2, 2, 9.0), (3, 3, 1.0)]
        assert sorted(by_n[5]) == [(1, 1, 10.0), (2, 4, 9.5), (3, 2, 9.0)]


class TestStreamingHoltWinters:
    SCH = (
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string"
    )

    def _two_files(self, spark, tmp_path, rows_a, rows_b):
        src = f"{tmp_path}/hw_src"
        spark.createDataFrame(rows_a, self.SCH).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        spark.createDataFrame(rows_b, self.SCH).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        return (
            spark.readStream.schema(self.SCH)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .select("event_type", "ts", "value")
        )

    def test_state_crosses_hour_aligned_batches(self, spark, tmp_path):
        """Two hour-aligned micro-batches must produce the same fold as
        one batch over the concatenated series (state crosses the
        boundary losslessly)."""
        import datetime as dt
        import math

        from rust_ruuvitag_etl_spark.streaming.stateful import hw_stream

        t0 = dt.datetime(2024, 1, 1)
        vals = [3.0, 5.0, 4.0, 9.0, 2.0, 6.0]
        rows = [
            (i, t0 + dt.timedelta(hours=i), 1, "m", vals[i], "{}")
            for i in range(6)
        ]
        stream = self._two_files(spark, tmp_path, rows[:3], rows[3:])
        name = "hw_two_batches"
        q = (
            hw_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r["bucket_ts"]: (r["y"], r["fc"])
            for r in spark.table(name).collect()
        }
        # reference: single-pass exact fold
        level, trend, sea, want = None, 0, [0] * 24, {}
        for i, v in enumerate(vals):
            y = int(v * 1_000_000)
            if level is None:
                level, nt = y, 0
                snew = math.floor((y - level + sea[0]) / 2)
            else:
                nl = math.floor((y - sea[0] + level + trend) / 2)
                trend = math.floor((nl - level + trend) / 2)
                snew = math.floor((y - nl + sea[0]) / 2)
                level = nl
            sea = sea[1:] + [snew]
            h = int((t0 + dt.timedelta(hours=i)).timestamp())
            want[h] = (y, level + trend + sea[0])
        assert got == want

    def test_split_hour_batch_raises(self, spark, tmp_path):
        """A micro-batch that re-opens an already-folded hour must FAIL
        loudly (partial-bucket folds silently diverge from the batch
        oracle otherwise)."""
        import datetime as dt

        from pyspark.errors.exceptions.captured import StreamingQueryException

        from rust_ruuvitag_etl_spark.streaming.stateful import hw_stream

        t0 = dt.datetime(2024, 1, 1)
        rows_a = [
            (0, t0, 1, "m", 1.0, "{}"),
            (1, t0 + dt.timedelta(minutes=10), 1, "m", 2.0, "{}"),
        ]
        # second file lands IN THE SAME HOUR -> partial-bucket re-open
        rows_b = [(2, t0 + dt.timedelta(minutes=40), 1, "m", 3.0, "{}")]
        stream = self._two_files(spark, tmp_path, rows_a, rows_b)
        name = "hw_split_hour"
        q = (
            hw_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        import pytest

        with pytest.raises(StreamingQueryException) as ei:
            q.awaitTermination()
        assert "ordering contract violated" in str(ei.value)


class TestReplayAndNullContracts:
    """Pins the round-6 advice fixes in streaming/stateful.py: the
    EWMA ordering sentinel rejects a REPLAYED row (batch_min == hwm,
    not just <), and the Holt-Winters fold skips null values with
    SQL-SUM semantics instead of crashing in the int64 quantizer."""

    def test_ewma_replayed_row_raises(self, spark, tmp_path):
        """event_id is unique, so a micro-batch whose first row EQUALS
        the folded (ts, event_id) high-water mark can only be a
        replayed/duplicate row; a silent re-fold would diverge from
        the batch LAG oracle. Same strictness as the HW twin."""
        import datetime as dt
        import glob
        import os

        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from rust_ruuvitag_etl_spark.streaming.stateful import ewma_stream

        sch = "event_id long, ts timestamp, event_type string, value double"
        t0 = dt.datetime(2024, 3, 4, 10, 0, 0)
        first = [
            (i, t0 + dt.timedelta(minutes=i), "view", float(i))
            for i in range(5)
        ]
        # second batch STARTS with a replay of event 4
        replayed = [
            (i, t0 + dt.timedelta(minutes=i), "view", float(i))
            for i in range(4, 9)
        ]
        data = f"{tmp_path}/replay_src"
        os.makedirs(data)
        for n, rows in (("1", first), ("2", replayed)):
            staged = f"{tmp_path}/_stage{n}"
            spark.createDataFrame(rows, sch).coalesce(1).write.parquet(
                staged
            )
            part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
            dst = os.path.join(data, f"{n}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_700_000_000 + 60 * int(n),) * 2)
        q = (
            ewma_stream(
                spark.readStream.schema(sch)
                .option("maxFilesPerTrigger", "1")
                .parquet(data)
            )
            .writeStream.format("memory")
            .queryName("ewma_replay_guard")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp_path}/ck_replay")
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException) as exc:
            q.awaitTermination()
        assert "ordering contract violated" in str(exc.value)

    def test_hw_null_values_skipped_not_crashed(self, spark, tmp_path):
        """A null value row must be SKIPPED (the oracle's SUM skips
        NULLs) — before the fix the (value * 1e6).astype('int64')
        quantizer raised on NaN and killed the stream."""
        import datetime as dt
        import math

        from rust_ruuvitag_etl_spark.streaming.stateful import hw_stream

        sch = (
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        )
        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (0, t0, 1, "m", 3.0, "{}"),
            (1, t0 + dt.timedelta(minutes=5), 1, "m", None, "{}"),
            (2, t0 + dt.timedelta(hours=1), 1, "m", 5.0, "{}"),
        ]
        src = f"{tmp_path}/hw_null_src"
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(src)
        q = (
            hw_stream(
                spark.readStream.schema(sch)
                .parquet(src)
                .select("event_type", "ts", "value")
            )
            .writeStream.format("memory")
            .queryName("hw_null_skip")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r["bucket_ts"]: (r["y"], r["fc"])
            for r in spark.table("hw_null_skip").collect()
        }
        # reference fold over the two non-null hourly sums (3.0, 5.0)
        level, trend, sea, want = None, 0, [0] * 24, {}
        for i, v in enumerate([3.0, 5.0]):
            y = int(v * 1_000_000)
            if level is None:
                level = y
                snew = math.floor((y - level + sea[0]) / 2)
            else:
                nl = math.floor((y - sea[0] + level + trend) / 2)
                trend = math.floor((nl - level + trend) / 2)
                snew = math.floor((y - nl + sea[0]) / 2)
                level = nl
            sea = sea[1:] + [snew]
            h = int((t0 + dt.timedelta(hours=i)).timestamp())
            want[h] = (y, level + trend + sea[0])
        assert got == want
