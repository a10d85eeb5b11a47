"""The benchmark's workloads and their operations.

``codec`` runs registered queries (``__spark_entry__``) over the fixture
table in ``perfbench/data``; one operation is a builder call plus its
full-result digest. ``ingest`` is the reference's extract-transform-load
loop: seeded poll files of sensor readings, one micro-batch each through
one long-running streaming query into a snapshot table, read back after
every poll.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from digest import digest, row_hash

HERE = os.path.dirname(os.path.abspath(__file__))

CODEC = [
    "multimodal_png_stats", "multimodal_jpeg_stats", "multimodal_audio_stats",
    "dedup_image_phash", "ruuvi_movement_delta_pandas",
]
TABLES = ["events"]  # every codec query and its DuckDB oracle read only this table


def sf_dir(scale: str) -> str:
    return os.path.join(HERE, "data", f"sf{scale}")


@dataclass
class OpOut:
    rows: int
    digest: int
    progress: list[dict] = field(default_factory=list)  # micro-batches of this op, ingest only
    watermark_us: int = 0


def no_group(label: str) -> None:
    """Job-group hook of the untraced run: does nothing."""


class QueryWorkload:
    """Registered queries over the fixture tables; order shuffled per pass."""

    def __init__(self, names: list[str], tables: list[str], scale: str):
        self.names, self.tables, self.sf_dir = names, tables, sf_dir(scale)

    def start(self, spark, work: str, seed: int) -> None:
        import __spark_entry__

        self.spark, self.seed = spark, seed
        self.queries = __spark_entry__.queries()

    def pass_ops(self, p: int) -> list[str]:
        order = list(self.names)
        random.Random(self.seed * 1009 + p).shuffle(order)
        return order

    def feed(self, op: str) -> None:
        pass

    def end_pass(self) -> None:
        return None

    def run_op(self, name: str, tr, group=no_group) -> OpOut:
        group("build")
        with tr.span("build"):
            df = self.queries[name](self.spark, self.sf_dir)
        group("action")
        with tr.span("action"):
            n, h = digest(df)
        return OpOut(n, h)


READINGS_SCHEMA = (
    "sensor_mac string, ts timestamp, temperature double, humidity double, "
    "pressure double, acceleration_x double, acceleration_y double, "
    "acceleration_z double, movement_counter int"
)
# The reference daemon's operating constants (BASELINE.md): a 30-minute
# collection window, a BLE scan every 30 s that lasts 20 s, and one
# last-wins reading per sensor per scan (~60 readings per sensor per
# window). The 10-minute watermark is windowed_averages_stream's default.
WINDOW_S, POLL_S, SCAN_S, WATERMARK_S = 1800, 30, 20, 600
N_SENSORS = 16
LIVE_POLLS = 1
# First poll whose readings move the watermark past the first window's end.
CLOSING_POLL = -(-(WINDOW_S + WATERMARK_S) // POLL_S)


def make_polls(seed: int, n_polls: int, n_sensors: int):
    """Seeded scans, one pandas frame per poll: one reading per sensor,
    stamped within the poll's 20 s scan, polls 30 s apart from a window
    start."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    t0 = 1_717_200_000 // WINDOW_S * WINDOW_S
    macs = [f"C7:{seed % 256:02X}:{i:02X}:5E:{(i * 37) % 256:02X}:0A" for i in range(n_sensors)]
    temp = rng.normal(21.0, 2.0, n_sensors)
    moves = rng.integers(0, 256, n_sensors)
    polls = []
    for i in range(n_polls):
        ts = (t0 + i * POLL_S + rng.uniform(0, SCAN_S, n_sensors)) * 1_000_000
        temp = temp + rng.normal(0, 0.05, n_sensors)
        moves = (moves + (rng.random(n_sensors) < 0.1)) % 256
        polls.append(pd.DataFrame({
            "sensor_mac": macs,
            "ts": pd.to_datetime(ts.astype("int64"), unit="us"),
            "temperature": temp.round(2),
            "humidity": rng.uniform(20, 80, n_sensors).round(2),
            "pressure": rng.normal(1005, 4, n_sensors).round(2),
            "acceleration_x": rng.normal(0, 0.05, n_sensors).round(3),
            "acceleration_y": rng.normal(0, 0.05, n_sensors).round(3),
            "acceleration_z": rng.normal(1, 0.05, n_sensors).round(3),
            "movement_counter": moves.astype("int32"),
        }).sort_values("ts", kind="stable"))
    return polls


class IngestWorkload:
    """One pass = the daemon resuming on a fresh snapshot table.

    ``resume`` starts the streaming query on the backlog of every poll
    before the live ones, one file that fills the first window's state
    without closing it. Then ``LIVE_POLLS`` live polls follow, one file
    and one micro-batch each; the last one moves the watermark past the
    first window's end, so the window is emitted. After every operation
    the snapshot table is read back with ``read_snapshot``.
    """

    tables: list[str] = []

    def __init__(self, n_sensors: int):
        self.n_sensors = n_sensors
        self.ops = ["resume"] + [f"poll-{i}" for i in range(CLOSING_POLL - LIVE_POLLS + 1, CLOSING_POLL + 1)]

    def start(self, spark, work: str, seed: int) -> None:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.spark, self.work = spark, work
        self.polls_dir = os.path.join(work, "polls")
        os.makedirs(self.polls_dir, exist_ok=True)
        polls = make_polls(seed, CLOSING_POLL + 1, self.n_sensors)
        backlog = len(polls) - LIVE_POLLS
        files = {"resume": pd.concat(polls[:backlog], ignore_index=True)}
        files.update({op: pdf for op, pdf in zip(self.ops[1:], polls[backlog:])})
        for op, pdf in files.items():
            table = pa.Table.from_pandas(pdf, preserve_index=False)
            pq.write_table(table.cast(table.schema.set(1, pa.field("ts", pa.timestamp("us")))),
                           os.path.join(self.polls_dir, f"{op}.parquet"))
        self.poll_bytes = sum(os.path.getsize(os.path.join(self.polls_dir, n))
                              for n in os.listdir(self.polls_dir))

    def pass_ops(self, p: int) -> list[str]:
        self.dir = os.path.join(self.work, f"pass-{p:04d}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "src"))
        self.query, self.last_batch = None, -1
        return list(self.ops)

    def feed(self, op: str) -> None:
        """Drop the op's poll file into the source directory (untimed)."""
        src = os.path.join(self.dir, "src")
        shutil.copy(os.path.join(self.polls_dir, f"{op}.parquet"), os.path.join(src, f".{op}.parquet"))
        os.rename(os.path.join(src, f".{op}.parquet"), os.path.join(src, f"{op}.parquet"))

    def run_op(self, op: str, tr, group=no_group) -> OpOut:
        from rust_ruuvitag_etl_spark.sources import snapshots
        from rust_ruuvitag_etl_spark.streaming import pipeline

        table = os.path.join(self.dir, "table")
        group("batch")  # the micro-batches themselves run under the stream's run id
        with tr.span("batch"):
            if self.query is None:
                readings = pipeline.read_readings_stream(
                    self.spark, os.path.join(self.dir, "src"), READINGS_SCHEMA)
                self.query = snapshots.write_stream_snapshots(
                    pipeline.windowed_averages_stream(readings), table,
                    os.path.join(self.dir, "checkpoint"), trigger_available_now=False)
            last = self._await_file(self.ops.index(op))
        group("read")
        with tr.span("read"):
            if snapshots.current_version(table) is None:
                n, h = 0, 0
            else:
                n, h = digest(snapshots.read_snapshot(self.spark, table))
        batches = [b for b in self.query.recentProgress
                   if b["batchId"] > self.last_batch and "addBatch" in b["durationMs"]]
        self.last_batch = max([self.last_batch] + [b["batchId"] for b in batches])
        wm = last["eventTime"].get("watermark")
        return OpOut(n, h, batches, _iso_to_us(wm) if wm else 0)

    def _await_file(self, k: int, timeout_s: float = 120.0):
        """Block until the query has committed source file ``k`` of this
        pass and every batch that follows from it; return its progress.

        ``processAllAvailable`` can return on a trigger that listed the
        source before the file arrived, hence the offset check."""
        deadline = time.monotonic() + timeout_s
        while True:
            self.query.processAllAvailable()
            last = self.query.lastProgress
            if last and last["sources"] and _log_offset(last["sources"][0]["endOffset"]) >= k:
                return last
            if time.monotonic() > deadline:
                raise TimeoutError(f"stream did not commit source file {k} in {timeout_s} s")

    def end_pass(self) -> tuple[int, int]:
        """Stop the pass's query; return the (files, bytes) it wrote to
        its table and checkpoint."""
        if self.query is not None:
            self.query.stop()
        files = size = 0
        for sub in ("table", "checkpoint"):
            for root, _, names in os.walk(os.path.join(self.dir, sub)):
                files += len(names)
                size += sum(os.path.getsize(os.path.join(root, n)) for n in names)
        return files, size

    def expected(self) -> list[tuple[int, int]]:
        """(window end in µs, row hash) of every window of the batch twin
        ``operators.ruuvi_pipeline.window_aggregate`` over all polls."""
        from pyspark.sql import functions as F

        from rust_ruuvitag_etl_spark.operators import ruuvi_pipeline

        agg = ruuvi_pipeline.window_aggregate(
            self.spark.read.schema(READINGS_SCHEMA).parquet(self.polls_dir))
        rows = agg.select(F.unix_micros("time").alias("t"), row_hash(agg).alias("h")).collect()
        return [(r["t"], r["h"]) for r in rows]


def expected_for(windows: list[tuple[int, int]], watermark_us: int) -> tuple[int, int]:
    """Digest of the windows a watermark has closed (append mode emits a
    window once its end is at or below the watermark)."""
    closed = [h for t, h in windows if t <= watermark_us]
    return len(closed), sum(closed)


def _log_offset(offset) -> int:
    """``n`` of a file-source offset ``{"logOffset": n}``, in whichever
    form the progress object carries it."""
    m = re.search(r"logOffset\D*(\d+)", str(offset))
    return int(m.group(1)) if m else -1


def _iso_to_us(iso: str) -> int:
    from datetime import datetime

    return int(datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1_000_000)


WORKLOADS = ["codec", "ingest"]


def build(name: str, scale: str):
    if name == "codec":
        return QueryWorkload(CODEC, TABLES, scale)
    if name == "ingest":
        return IngestWorkload(N_SENSORS)
    raise SystemExit(f"unknown workload {name!r}; known: {', '.join(WORKLOADS)}")
