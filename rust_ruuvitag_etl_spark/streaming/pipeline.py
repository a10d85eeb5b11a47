"""Structured Streaming variant of the reference pipeline (SURVEY.md §7
step 6).

The reference's main loop (``/root/reference/src/main.rs:66-185``) IS a
micro-batch stream: poll a source every 30 s, accumulate keyed state for
30 min, flush an aggregate per key. Structured Streaming replaces the
hand-rolled loop with declarative equivalents:

- tumbling event-time window + watermark  ⇔ the 30-min collect interval
  (W1) — but with late-data semantics the reference lacks (§4.2.3);
- ``dropDuplicates`` with watermark       ⇔ last-wins scan dedup (B8);
- sliding and session windows             — new surface, no reference
  analog, standard for sensor streams;
- ``foreachBatch`` parquet/JDBC append    ⇔ the store_* sinks (S1) with
  task-retry replacing the 100×5s loop (S2).

Batch remains the source of truth: each streaming query here is tested
for equality against its batch twin on the same fixture data
(tests/test_streaming.py) — run with ``trigger(availableNow=True)`` the
outputs must match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.ruuvi_pipeline import window_aggregate


def read_readings_stream(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """File-source stream of decoded readings (one file per micro-batch
    ≈ one BLE scan poll, ``main.rs:88-121``)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def windowed_averages_stream(readings: DataFrame) -> DataFrame:
    """W1 upgraded: :func:`operators.ruuvi_pipeline.window_aggregate`
    over the stream with a 10-minute event-time watermark. Append mode
    emits each window once it is watermark-complete; min_by/max_by keep
    the movement delta deterministic in state."""
    return window_aggregate(readings.withWatermark("ts", "10 minutes"))


def dedup_stream(
    readings: DataFrame,
    keys: tuple[str, ...] = ("sensor_mac", "scan_id"),
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """B8 upgraded: streaming dropDuplicates with watermark-bounded
    state (the reference's per-scan HashMap could never evict; the
    watermark bounds state for an unbounded stream)."""
    return readings.withWatermark(ts_col, watermark).dropDuplicates(list(keys))


def sliding_means_stream(
    readings: DataFrame,
    window: str = "30 minutes",
    slide: str = "10 minutes",
    watermark: str = "10 minutes",
    key: str = "sensor_mac",
    ts_col: str = "ts",
    metric: str = "temperature",
) -> DataFrame:
    """Sliding window means — each reading contributes to window/slide
    overlapping windows (new surface; reference only tumbles)."""
    return (
        readings.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.window(F.col(ts_col), window, slide).alias("w"))
        .agg(F.round(F.avg(metric), 2).alias("avg_metric"), F.count(F.lit(1)).alias("samples"))
        .select(key, F.col("w.start").alias("window_start"), "avg_metric", "samples")
    )


def session_windows_stream(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    key: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows with a dynamic gap — activity bursts per key
    (standard sensor/event stream operator the reference lacks)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts_col), gap).alias("s"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def write_parquet_sink(
    df: DataFrame, path: str, checkpoint: str, trigger_available_now: bool = True
):
    """S1 as a streaming sink: foreachBatch parquet writer with REAL
    replay idempotence (replaces the reference's S2 retry loop,
    ``/root/reference/src/database/connection.rs:52-134``): each
    micro-batch lands in its own ``batch_id=N`` partition directory with
    overwrite mode, so a batch replayed after a failure overwrites its
    own output instead of appending duplicates. Readers just scan
    ``path`` (batch_id becomes an ordinary partition column)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    writer = df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_available_now(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Drain a bounded stream with an availableNow trigger into the
    memory sink ``name`` (output mode ``mode``) and return the result
    table. Every stateful operator (windowed agg, dedup, session merge,
    stream-stream join) creates one state store per shuffle partition,
    so the store count follows the session
    (``session.size_shuffle_partitions``: one per task slot)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


_DURATION_UNITS = {
    "millisecond": 0.001,
    "second": 1.0,
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "week": 604800.0,
}


def _duration_seconds(spec: str) -> float:
    """Parse a Spark CalendarInterval-style duration ('2 hours',
    '90 minutes') into seconds, for watermark/gap sanity checks."""
    total = 0.0
    parts = spec.strip().lower().split()
    if len(parts) % 2 != 0:
        raise ValueError(f"unparseable duration: {spec!r}")
    for qty, unit in zip(parts[::2], parts[1::2]):
        unit = unit.rstrip("s")
        if unit not in _DURATION_UNITS:
            raise ValueError(f"unknown duration unit {unit!r} in {spec!r}")
        total += float(qty) * _DURATION_UNITS[unit]
    return total


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with the
    right-side events of the same key whose timestamp falls in
    (left.ts - max_gap, left.ts]. The dual watermarks bound BOTH join
    state stores — without them a stream-stream join buffers forever
    (the scale-killer); with them state evicts as event time passes.
    New surface: the reference is single-stream only.

    ``how='left_outer'`` adds watermark-certified null extension: an
    unmatched left row emits (left, NULL) only when the GLOBAL
    watermark (the min of both streams' watermarks) passes its
    timestamp — i.e. when state eviction proves no future right row
    can still match. Rows younger than the final watermark never emit
    a null row (measured and pinned by tests/test_streaming.py).

    Raises if ``watermark`` < ``max_gap``: join state would be evicted
    before the interval closes and matches would be dropped silently.
    """
    if _duration_seconds(watermark) < _duration_seconds(max_gap):
        raise ValueError(
            f"watermark ({watermark!r}) must be >= max_gap ({max_gap!r}): "
            "a shorter watermark evicts join state before the interval "
            "closes and silently drops matches"
        )
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join type {how!r}")
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND "
            f"r.{ts_col} > l.{ts_col} - INTERVAL {max_gap} AND "
            f"r.{ts_col} <= l.{ts_col}"
        ),
        how,
    )
