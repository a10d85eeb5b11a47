"""Streaming queries surfaced to the correctness gate: each runs a real
Structured Streaming job (availableNow trigger → memory sink) inside
the registry callable and returns the final result table, so the DuckDB
differential verifies STREAMING execution against the batch-SQL oracle
— the strongest batch↔stream agreement check available.

Upgrade of W1 (the reference's processing-time loop,
``/root/reference/src/main.rs:81-122``) to event-time micro-batch
execution. Complete output mode, so no watermark is needed and every
window is emitted at end-of-stream (append mode would hold back
trailing windows since the watermark never passes the last event).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load
from ..sources.tables import events_read_schema, events_ts_expr
from ..streaming.pipeline import interval_join_streams, run_available_now
from .registry import query
from .ruuvi import FLAGSHIP_ORACLE, flagship
from .timeseries import (
    HW_CTES,
    OHLC_ORACLE,
    SESSION_ORACLE,
    SLIDING_WINDOW_ORACLE,
    ohlc_rollup,
    sessions,
    sliding_window_sums,
)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source STREAM with the declared schema
    (streams never infer — same stance as the batch loaders)."""
    # The file stream source lists a DIRECTORY; testdata ships events as
    # a single file, so stream the parent dir with a glob pinned to it.
    # Schema + ts normalization adapt to the file's physical ts type
    # (nanos-as-long vs µs timestamp) via the batch loader's footer probe.
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    raw = (
        spark.readStream.schema(events_read_schema(spark, path))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    return raw.withColumn("ts", events_ts_expr(spark, path))


@query(
    "streaming_windowed_means",
    oracle="""
SELECT user_id,
       time_bucket(INTERVAL 30 MINUTES, CAST(ts AS TIMESTAMP)) AS window_start,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
       CAST(COUNT(*) AS BIGINT) AS samples
FROM events
GROUP BY user_id, window_start
""",
)
def streaming_windowed_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship tumbling-window aggregation executed by Structured
    Streaming (not batch): file stream → event-time 30-min windows →
    decimal-exact means → availableNow trigger drains the source in
    micro-batches → memory sink. The returned table is the streaming
    state's final answer, which the driver diffs against the plain
    batch SQL oracle — proving the streaming and batch planners agree
    row-for-row. At scale the same plan runs continuously with a
    watermark (streaming/pipeline.py); complete-mode-over-availableNow
    is the bounded-input harness."""
    # Fixed per-query sink name: the availableNow query has terminated
    # by the time we return, so the next invocation's memory sink
    # REPLACES the temp view instead of accumulating uuid-named tables
    # (and their cached results) in driver memory across bench/audit
    # re-runs.
    name = "swm_streaming_windowed_means"
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id", F.window("ts", "30 minutes").alias("w"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
            F.count(F.lit(1)).alias("samples"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            "avg_value",
            "samples",
        )
    )
    return run_available_now(agg, name, "complete")


@query(
    "streaming_dedup_counts",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_unique_users
FROM (SELECT DISTINCT event_type, user_id FROM events)
GROUP BY event_type
""",
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates (B8 upgraded): distinct (event_type,
    user_id) pairs tracked in streaming state across micro-batches,
    then counted per type. Bounded input → no watermark needed; the
    production variant bounds state with
    ``dropDuplicatesWithinWatermark`` (streaming/pipeline.py)."""
    name = "sdd_streaming_dedup_counts"  # fixed: see streaming_windowed_means
    dedup = (
        _events_stream(spark, sf_dir)
        .select("event_type", "user_id")
        .dropDuplicates(["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
    )
    return run_available_now(dedup, name, "complete")


@query(
    "streaming_stateful_monitor",
    oracle="""
WITH r AS (
    SELECT user_id, ts, event_id, value,
           CAST(event_id % 256 AS INTEGER) AS mc
    FROM events WHERE value IS NOT NULL
),
o AS (
    SELECT user_id, ts, event_id, value, mc,
           LAG(mc) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_mc
    FROM r
),
agg AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS total_readings,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               / (100.0 * COUNT(*)) AS running_mean_temp,
           CAST(SUM(CASE WHEN prev_mc IS NULL THEN 0
                    ELSE ((mc - prev_mc) % 256 + 256) % 256 END) AS BIGINT)
               AS movement_total
    FROM o GROUP BY user_id
),
last AS (
    SELECT user_id, mc AS last_movement_counter FROM (
        SELECT user_id, mc,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM r) WHERE rn = 1
)
SELECT CAST(a.user_id AS VARCHAR) AS sensor_mac,
       a.total_readings, a.running_mean_temp,
       l.last_movement_counter, a.movement_total
FROM agg a JOIN last l ON l.user_id = a.user_id
""",
)
def streaming_stateful_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful operator in the correctness gate: the
    applyInPandasWithState per-sensor monitor (running count / mean /
    wrapped movement accumulation carried ACROSS micro-batches — state
    the built-in windows can't express, reference
    ``src/main.rs:72,97-102``) drained with availableNow and diffed
    against a batch LAG-window oracle. Update mode appends one refreshed
    row per sensor per batch; the final per-sensor row (max readings) is
    the monitor's end-of-stream answer."""
    ev = _events_stream(spark, sf_dir)
    readings = ev.filter(F.col("value").isNotNull()).select(
        F.col("user_id").cast("string").alias("sensor_mac"),
        "ts",
        "event_id",
        F.col("value").alias("temperature"),
        F.pmod(F.col("event_id"), F.lit(256)).cast("int").alias("movement_counter"),
    )
    from ..streaming.stateful import sensor_monitor_stream

    monitored = sensor_monitor_stream(readings)
    name = "ssm_streaming_stateful_monitor"  # fixed: see streaming_windowed_means
    t = run_available_now(monitored, name, "update")
    w = Window.partitionBy("sensor_mac").orderBy(F.desc("total_readings"))
    return (
        t
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@query("streaming_ruuvi_flagship", oracle=FLAGSHIP_ORACLE)
def streaming_ruuvi_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference dataflow executed the way the reference executes it
    — as a continuous pipeline: validate → per-sensor 30-min tumbling
    windows → decimal-exact mean + samples + wrapped movement delta
    (min_by/max_by are algebraic, so they stream) → broadcast
    stream-static enrichment against the registry table with 'Unknown'
    default → sink. Diffed against the SAME oracle as the batch
    ruuvi_flagship and built by the same ``ruuvi.flagship`` plan, so
    batch plan, streaming plan, and DuckDB all agree on the reference's
    end-to-end semantics (``/root/reference/src/main.rs:66-185``)."""
    enriched = flagship(
        _events_stream(spark, sf_dir), load(spark, sf_dir, "customer")
    )
    name = "srf_streaming_ruuvi_flagship"  # fixed: see streaming_windowed_means
    return run_available_now(enriched, name, "complete")


@query("streaming_session_windows", oracle=SESSION_ORACLE)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows executed by Structured Streaming: 5-minute-gap
    sessions merge in streaming state across micro-batches (the hardest
    stateful window — sessions have no fixed boundaries, so state must
    merge adjacent windows as events arrive), drained with availableNow
    in complete mode and diffed against the batch gaps-and-islands
    oracle. Third stream↔batch agreement proof alongside the tumbling
    window and the interval join."""
    name = "ssw_streaming_session_windows"  # fixed: see streaming_windowed_means
    agg = sessions(_events_stream(spark, sf_dir))
    return run_available_now(agg, name, "complete")


def _purchase_view_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """(purchase_id, view_id): each purchase stream row joined to the
    same user's view stream rows of the preceding hour, under 2-hour
    watermarks on both sides (``interval_join_streams``)."""

    def typed(event_type: str, id_alias: str) -> DataFrame:
        return (
            _events_stream(spark, sf_dir)
            .filter(F.col("event_type") == event_type)
            .select("user_id", "ts", F.col("event_id").alias(id_alias))
        )

    return interval_join_streams(
        typed("purchase", "purchase_id"), typed("view", "view_id"),
        key="user_id", ts_col="ts", max_gap="1 hour", watermark="2 hours",
        how=how,
    ).select("purchase_id", "view_id")


@query(
    "streaming_interval_join",
    oracle="""
SELECT p.event_id AS purchase_id, v.event_id AS view_id
FROM events p
JOIN events v
  ON p.user_id = v.user_id
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
  AND CAST(v.ts AS TIMESTAMP) > CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
  AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
""",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join executed by Structured Streaming and
    diffed against the batch range-join oracle: each purchase pairs with
    the same user's views in the preceding hour. Dual watermarks (2 h ≥
    the 1 h interval — enforced by interval_join_streams) bound both
    join state stores; inner-join matches emit as they occur (append
    mode), so the bounded availableNow run yields exactly the batch
    answer. The strongest stateful-streaming parity check the engine
    exposes: two unsynchronized sources, keyed state, and a range
    predicate in one query."""
    name = "sij_streaming_interval_join"  # fixed: see streaming_windowed_means
    joined = _purchase_view_join(spark, sf_dir, "inner")
    return run_available_now(joined, name, "append")


@query(
    "streaming_interval_join_left",
    oracle="""
WITH p AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
v AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
),
m AS (
    SELECT p.event_id AS purchase_id, v.event_id AS view_id
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.ts > p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
),
-- the GLOBAL watermark is the min of both streams' watermarks
wm AS (
    SELECT LEAST((SELECT MAX(ts) FROM p), (SELECT MAX(ts) FROM v))
           - INTERVAL 2 HOURS AS w
)
SELECT purchase_id, view_id FROM m
UNION ALL
SELECT p.event_id, CAST(NULL AS BIGINT)
FROM p
WHERE p.event_id NOT IN (SELECT purchase_id FROM m)
  AND p.ts < (SELECT w FROM wm)
""",
)
def streaming_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER interval join — the null-extension
    semantics only a watermark can certify: a purchase with no view in
    its preceding hour may NOT emit (purchase, NULL) until the join
    state watermark proves no matching view can still arrive, so the
    outer row is a *negative* claim about the unbounded future, not
    just a missing match. Matched pairs emit as they occur (append
    mode, same as the inner twin); unmatched purchases emit
    null-extended exactly when their timestamp falls below the final
    GLOBAL watermark — min(max purchase ts, max view ts) − 2 h, the
    min-policy across both streams — and purchases younger than that
    never emit, which the oracle encodes verbatim (the same
    measured-and-pinned discipline as streaming_late_data_discard's
    one-batch lag). Eviction-time null flushing rides the
    end-of-availableNow no-data batch.

    Scale posture: identical state bounds to the inner twin — dual
    watermarks evict both stores; the outer path adds only a
    matched-bit per buffered left row."""
    joined = _purchase_view_join(spark, sf_dir, "left_outer")
    return run_available_now(joined, "sijl_streaming_interval_join_left", "append")


@query("streaming_sliding_window", oracle=SLIDING_WINDOW_ORACLE)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows executed by Structured
    Streaming: every event lands in TWO overlapping 30-min windows
    (slide 15 min), so streaming state holds two open aggregates per
    (user, instant) — the overlap-handling upgrade of W1 that the
    reference's single tumbling loop cannot express. Complete mode over
    availableNow; diffed against the same batch oracle as the batch
    twin `sliding_window_user_value`, proving batch and streaming
    window assignment agree row-for-row."""
    name = "ssl_streaming_sliding_window"  # fixed: see streaming_windowed_means
    agg = sliding_window_sums(_events_stream(spark, sf_dir))
    return run_available_now(agg, name, "complete")


@query(
    "streaming_top_users",
    oracle="""
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
ORDER BY total_value DESC, user_id
LIMIT 10
""",
)
def streaming_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming global top-k: per-user running totals maintained in
    streaming state, with the sorted LIMIT applied on the state's final
    answer — ``orderBy().limit()`` is only legal in complete mode,
    which is exactly what this query exercises (a leaderboard every
    monitoring pipeline runs). Decimal-exact sums keep the ranking (and
    its round-trip through the memory sink) engine-identical; ties
    break by user_id."""
    name = "stu_streaming_top_users"  # fixed: see streaming_windowed_means
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            .alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(10)
    )
    return run_available_now(agg, name, "complete")


@query("streaming_ohlc_rollup", oracle=OHLC_ORACLE)
def streaming_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OHLC downsample (``timeseries.ohlc_rollup``, the plan of
    ``timeseries_ohlc_downsample``) executed as a Structured Streaming
    CONTINUOUS AGGREGATE — the hypertable-rollup / materialized-view
    pattern: per (type, hour bucket) the open/close ride min_by/max_by
    on the (ts, event_id) struct INSIDE streaming state, so the rollup
    needs no sort and no retraction regardless of event order across
    micro-batches; volume accumulates in exact decimal. Complete mode
    accepts the batch ``date_trunc`` grouping as is; availableNow
    drains the bounded source and the final state is diffed against
    the batch oracle — identical answer to the batch plan, row for row.
    An unbounded run would group by ``window(ts, '1 hour')`` under a
    watermark instead, so closed hours leave the state store
    (streaming/pipeline.py shows the watermark discipline)."""
    name = "sor_streaming_ohlc_rollup"  # fixed: see streaming_windowed_means
    agg = ohlc_rollup(_events_stream(spark, sf_dir))
    return run_available_now(agg, name, "complete")


_EWMA_LAGS = ", ".join(
    f"lag(m, {k}) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS m{k}"
    for k in range(1, 8)
)
_EWMA_NUM = "m * 128 " + " ".join(
    f"+ COALESCE(m{k} * {2 ** (7 - k)}, 0)" for k in range(1, 8)
)
_EWMA_DEN = "128 " + " ".join(
    f"+ CASE WHEN m{k} IS NULL THEN 0 ELSE {2 ** (7 - k)} END"
    for k in range(1, 8)
)


@query(
    "streaming_ewma_monitor",
    oracle=f"""
WITH d AS (
    SELECT event_id, event_type, ts,
           CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
    FROM events
),
l AS (
    SELECT event_id, event_type, m, {_EWMA_LAGS}
    FROM d
)
SELECT event_id, event_type,
       CAST({_EWMA_NUM} AS BIGINT) AS ewma_num,
       CAST({_EWMA_DEN} AS BIGINT) AS ewma_den
FROM l
""",
)
def streaming_ewma_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of timeseries_ewma_smooth: a custom
    applyInPandasWithState smoother whose per-key state is just the 7
    previous samples in exact micro-units — every arriving event emits
    its smoothed value, and the state crosses micro-batch boundaries
    losslessly (the quantize-then-integer-fold discipline of
    streaming_stateful_monitor). Emits the exact integer numerator /
    weight-sum pair, so the batch LAG-window oracle reproduces every
    row bit-for-bit with no float rounding anywhere; ewma itself is
    the consumer's one division. Output mode append: one row per
    event, state O(W) per key."""
    from ..streaming.stateful import ewma_stream

    ev = _events_stream(spark, sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    name = "sem_streaming_ewma_monitor"
    return run_available_now(ewma_stream(ev), name, "append")


_LATE_DELAY_MIN = 10
_LATE_T0 = "2024-01-01 00:00:00"


def _late_stream_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic three-batch stream derived from events (the same
    derivation the oracle reproduces in SQL): batch 1 is on-time rows
    at even minutes 0-44 (even event_ids mod 46 — batch-1 watermark
    34 min; windows W0 [0,30) and W1 [30,60)); batch 2
    is recent rows at minutes 183-189 that push the watermark to
    179 min — short of their own window [180,210); batch 3 plants LATE
    rows at minute 5, whose window W0 closed long ago. Late rows must
    arrive TWO triggers after their window's data because Spark filters
    late events with the PREVIOUS batch's watermark
    (``watermarkForLateEvents`` lags ``watermarkForEviction`` by one
    batch — replay safety; measured on this engine and pinned by
    tests/test_streaming.py). Margins everywhere: no window boundary
    ever equals a watermark, so </<= conventions cannot flip the
    answer."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull() & F.col("user_id").isNotNull()
    )
    minute = (
        F.when(F.col("event_id") % 2 == 0, F.col("event_id") % 46)
        .when(F.col("event_id") % 10 == 1, F.lit(5))
        .otherwise(F.lit(180) + F.col("event_id") % 10)
    ).cast("int")
    batch = (
        F.when(F.col("event_id") % 2 == 0, 1)
        .when(F.col("event_id") % 10 == 1, 3)
        .otherwise(2)
    )
    return ev.select(
        (F.col("user_id") % 8).alias("uid"),
        batch.alias("batch"),
        minute.alias("_m"),
    ).selectExpr(
        "uid",
        "batch",
        f"timestamp '{_LATE_T0}'"
        " + make_interval(0, 0, 0, 0, 0, _m, 0) AS ts",
    )


@query(
    "streaming_late_data_discard",
    oracle=f"""
WITH src AS (
    SELECT user_id % 8 AS uid,
           CASE WHEN event_id % 2 = 0 THEN 1
                WHEN event_id % 10 = 1 THEN 3 ELSE 2 END AS batch,
           CAST(CASE WHEN event_id % 2 = 0 THEN event_id % 46
                     WHEN event_id % 10 = 1 THEN 5
                     ELSE 180 + event_id % 10 END AS INTEGER) AS minute
    FROM events
    WHERE event_id IS NOT NULL AND user_id IS NOT NULL
),
t AS (
    SELECT uid, batch,
           TIMESTAMP '{_LATE_T0}' + minute * INTERVAL 1 MINUTE AS ts
    FROM src
),
-- the late-event filter for batch N uses the watermark computed
-- through batch N-2 (watermarkForLateEvents lags eviction by one
-- batch): for batch-3 rows that is max ts of batch 1, minus the delay
wm_late3 AS (
    SELECT MAX(ts) - INTERVAL {_LATE_DELAY_MIN} MINUTES AS w
    FROM t WHERE batch = 1
),
wmf AS (
    SELECT MAX(ts) - INTERVAL {_LATE_DELAY_MIN} MINUTES AS w FROM t
),
kept AS (
    SELECT uid, time_bucket(INTERVAL 30 MINUTES, ts) AS ws
    FROM t
    WHERE NOT (batch = 3
               AND time_bucket(INTERVAL 30 MINUTES, ts) + INTERVAL 30 MINUTES
                   <= (SELECT w FROM wm_late3))
)
SELECT uid AS user_id, ws AS window_start, CAST(COUNT(*) AS BIGINT) AS n
FROM kept
GROUP BY uid, ws
HAVING ws + INTERVAL 30 MINUTES <= (SELECT w FROM wmf)
""",
)
def streaming_late_data_discard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermark semantics end-to-end — the one streaming
    behavior the reference cannot express (it has no event time at all,
    ``src/main.rs:81-122``): a 10-minute watermark over 30-minute
    tumbling windows, driven through THREE deterministic micro-batches
    (maxFilesPerTrigger=1 over three mtime-ordered files). The batch-1
    watermark finalizes window W0 and batch 3's planted late rows into
    W0 are DISCARDED (they arrive two triggers after W0's data —
    Spark's late filter lags eviction by one batch, see
    :func:`_late_stream_rows`); append mode emits exactly the windows
    the final watermark closes (the trailing window never emits). The
    oracle encodes the full rule in SQL — the lagged late-event
    watermark, the late-drop predicate, and the final-emission
    predicate — so the hash match pins discard semantics, not just row
    counts.

    Scale posture: watermark state eviction is O(open windows) per
    key; the three-file harness is the bounded stand-in for a
    continuous source (streaming/pipeline.py carries the same
    watermark in production mode)."""
    import glob
    import os
    import shutil
    import tempfile

    from .llm import sf_slug

    rows = _late_stream_rows(spark, sf_dir)
    # Per-run staging dir (mkdtemp, like tests/test_streaming.py): a
    # fixed shared path would let two concurrent drivers on the same
    # host+sf delete each other's staged files mid-stream.
    root = tempfile.mkdtemp(prefix=f"late_data_{sf_slug(sf_dir)}_")
    data = os.path.join(root, "data")
    os.makedirs(data)
    for i, b in enumerate((1, 2, 3), start=1):
        staged = os.path.join(root, f"_stage{b}")
        rows.filter(F.col("batch") == b).select("uid", "ts").coalesce(
            1
        ).write.parquet(staged)
        part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        dst = os.path.join(data, f"{b}.parquet")
        shutil.move(part, dst)
        # FileStreamSource orders by modification time: pin batch order.
        os.utime(dst, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))
    stream = (
        spark.readStream.schema("uid bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    agg = (
        stream.withWatermark("ts", f"{_LATE_DELAY_MIN} minutes")
        .groupBy("uid", F.window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("uid").alias("user_id"),
            F.col("w.start").alias("window_start"),
            "n",
        )
    )
    name = "sld_streaming_late_data_discard"
    t = run_available_now(agg, name, "append")
    # The memory-sink table owns the results; the staged files are
    # fully consumed once the availableNow job terminates.
    shutil.rmtree(root, ignore_errors=True)
    return t


@query(
    "streaming_bitmap_rollup",
    oracle="""
WITH b AS (
    SELECT user_id,
           date_trunc('month', ts) AS month,
           bit_or(CAST(1 AS BIGINT) << (CAST(day(ts) AS INTEGER) - 1))
               AS day_bitmap
    FROM events
    GROUP BY user_id, date_trunc('month', ts)
)
SELECT user_id, month, day_bitmap,
       CAST(bit_count(day_bitmap) AS INTEGER) AS active_days
FROM b
""",
)
def streaming_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of bitmap_user_activity: the per-(user, month)
    day bitmap accumulates in streaming state via the same ``bit_or``
    aggregate — bit_or is algebraic (commutative, idempotent per bit),
    so arbitrary micro-batch arrival orders fold to the identical
    bitmap, which is exactly why bitmap rollups suit continuous
    ingestion. Complete output mode; popcount derived on read. Same
    oracle as the batch twin (minus the threshold flag — kept minimal
    to pin the bitmap bits themselves)."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(
        "user_id", F.date_trunc("month", "ts").alias("month")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), day(ts) - 1)")
        ).alias("day_bitmap")
    )
    name = "sbr_streaming_bitmap_rollup"
    return run_available_now(agg, name, "complete").select(
        "user_id",
        "month",
        "day_bitmap",
        F.bit_count("day_bitmap").alias("active_days"),
    )


@query(
    "streaming_stateful_topk",
    oracle="""
WITH ranked AS (
    SELECT event_type, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY value DESC, event_id) AS rk
    FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(rk AS INTEGER) AS rank, event_id, value
FROM ranked WHERE rk <= 3
""",
)
def streaming_stateful_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running TOP-K on ``applyInPandasWithState``: the state
    holds the current top-3 (O(k) per key, non-qualifying rows dropped
    before the state write) and a fold counter. The leaderboard shape:
    re-emittable after every micro-batch while the candidate set is
    unbounded, which no built-in windowed aggregate expresses.
    Drained with availableNow and diffed against the batch ROW_NUMBER
    top-3 oracle; ties resolve (value desc, event_id asc) identically
    on both sides. Cross-batch state continuity is pinned by a
    two-micro-batch test in tests/test_streaming.py.
    Reference analog: the per-sensor accumulation loop of
    ``src/main.rs:72,97-102``, kept permanently instead of reset."""
    from ..streaming.stateful import topk_stream

    ev = _events_stream(spark, sf_dir)
    readings = ev.filter(F.col("value").isNotNull()).select(
        "event_type", "event_id", "value"
    )
    name = "ssm_streaming_stateful_topk"  # fixed: see streaming_windowed_means
    t = run_available_now(topk_stream(readings), name, "update")
    w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"))
    return (
        t
        .withColumn("_mx", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("_mx"))
        .select("event_type", "rank", "event_id", "value")
    )


@query(
    "streaming_holt_winters",
    oracle=HW_CTES
    + """
SELECT event_type,
       CAST(epoch(bucket_ts) AS BIGINT) AS bucket_ts,
       y, CAST(level + trend + sea[1] AS BIGINT) AS fc
FROM r
""",
)
def streaming_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of timeseries_holt_winters: the same exact
    integer Holt-Winters fold (alpha=beta=gamma=1/2, micro-units)
    running as an applyInPandasWithState forecaster — per-type state
    is (level, trend, seasonal[24], folded-hour high-water mark),
    carried across micro-batches; each completed hourly bucket emits
    its actual and the next hour's forecast. Diffed against the SAME
    recursive-CTE oracle as the batch twin (epoch-seconds bucket key,
    raw micro-unit integers — no float anywhere), so batch and stream
    are pinned to each other through the oracle. Whole-hour ordering
    contract enforced in the operator (split hours raise, never
    diverge); cross-batch continuity pinned by a two-batch test.
    Reference analog: the 30-min accumulate-then-emit loop of
    ``main.rs:69-122``, upgraded from per-window means to a
    forecasting state machine."""
    from ..streaming.stateful import hw_stream

    # non-null filter matches the oracle's SUM semantics (SQL SUM skips
    # NULLs; the integer quantizer would raise on one instead)
    ev = (
        _events_stream(spark, sf_dir)
        .select("event_type", "ts", "value")
        .filter(F.col("value").isNotNull())
    )
    name = "shw_streaming_holt_winters"  # fixed: see streaming_windowed_means
    return run_available_now(hw_stream(ev), name, "append")


from ..streaming.stateful import (  # noqa: E402  (module tail: keeps the
    CUSUM_H_CENTS,                  # streaming-cusum block self-contained)
    CUSUM_TARGET_CENTS,
)


@query(
    "streaming_cusum_alarm",
    oracle=f"""
WITH e AS (
    SELECT event_type, ts, event_id,
           CAST(ROUND(value * 100) AS BIGINT) AS v100
    FROM events WHERE value IS NOT NULL
),
w AS (
    SELECT event_type,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY ts, event_id) AS BIGINT) AS rn,
           CAST(SUM(v100) OVER (PARTITION BY event_type
                ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
    FROM e
),
q AS (
    SELECT event_type, rn, p - rn * {CUSUM_TARGET_CENTS} AS qv FROM w
),
c AS (
    SELECT event_type, rn,
           qv - LEAST(0, MIN(qv) OVER (PARTITION BY event_type
                ORDER BY rn ROWS UNBOUNDED PRECEDING)) AS cusum
    FROM q
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(arg_max(cusum, rn) AS BIGINT) AS cusum,
       CAST(MAX(cusum) AS BIGINT) AS max_cusum,
       CAST(SUM(CASE WHEN cusum > {CUSUM_H_CENTS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alarms,
       MIN(CASE WHEN cusum > {CUSUM_H_CENTS} THEN rn END)
           AS first_alarm_rn
FROM c GROUP BY event_type
""",
)
def streaming_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CUSUM control chart: the known-target twin of the
    batch timeseries_cusum_alarm (which self-calibrates its allowance
    to the series mean — a two-pass statistic no stream can know), run
    as a real applyInPandasWithState job folding the exact clamped
    recurrence S <- max(0, S + x - target) in integer cents across
    micro-batches, then diffed against the batch closed-form oracle
    (prefix-sum minus running-min INCLUDING the empty prefix — the
    recurrence's exact closed form). Update mode emits one refreshed
    summary per series per batch; the max-n_events row per series is
    the end-of-stream answer. State per key is five integers + the
    ordering high-water mark (streaming/stateful.py cusum_stream)."""
    ev = _events_stream(spark, sf_dir)
    events = ev.filter(F.col("value").isNotNull()).select(
        "event_type", "ts", "event_id", "value"
    )
    from ..streaming.stateful import cusum_stream

    name = "sca_streaming_cusum_alarm"  # fixed: see streaming_windowed_means
    t = run_available_now(cusum_stream(events), name, "update")
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
