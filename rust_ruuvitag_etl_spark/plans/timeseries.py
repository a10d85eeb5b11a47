"""Time-series and multimodal registry queries: as-of join,
sessionization (batch session windows), and Arrow-batched binary
feature extraction — oracle-verified where DuckDB can express the twin
(it has native ASOF JOIN; sessions via gaps-and-islands; blob md5).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import multimodal as mm
from ..operators.asof import asof_join
from ..operators.dedup import spread
from ..sources import load
from .registry import query


@query(
    "asof_purchase_last_view",
    oracle="""
WITH purchases AS (
    SELECT user_id, ts, event_id AS purchase_id, value
    FROM events WHERE event_type = 'purchase'
),
views AS (
    SELECT user_id, ts, MAX(event_id) AS view_id
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
)
SELECT p.purchase_id, p.user_id, p.value,
       v.view_id AS view_id_asof,
       CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS gap_seconds
FROM purchases p
ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND v.ts <= p.ts
""",
)
def asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent view
    at-or-before it (generalizes A3's ordered-by-time semantics to a
    join). Spark has no ASOF JOIN builtin; the operator unions both
    sides and runs a running last() over ONE shuffle — no range-join
    explosion (operators/asof.py). DuckDB's native ASOF JOIN is the
    oracle."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), "value"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    joined = asof_join(
        purchases,
        views.select("user_id", "ts", "view_id", F.col("ts").alias("view_ts")),
        key="user_id",
        ts_col="ts",
        right_value_cols=("view_id", "view_ts"),
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "value",
        F.col("view_id_asof"),
        (F.unix_timestamp("ts") - F.unix_timestamp("view_ts_asof"))
        .cast("long")
        .alias("gap_seconds"),
    )


SESSION_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_id,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, ts, event_id,
           -- strict >: Spark MERGES an event arriving exactly at
           -- prev_ts + gap into the same session (measured on this
           -- Spark version and pinned by
           -- tests/test_streaming.py::TestSessionBoundary), so a new
           -- session opens only when the gap EXCEEDS the duration
           CASE WHEN prev_ts IS NULL
                     OR date_diff('millisecond', prev_ts, ts) > 300000
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
),
numbered AS (
    SELECT user_id, ts, event_id,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 5 MINUTES AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, session_no
"""


def sessions(ev: DataFrame) -> DataFrame:
    """5-minute-gap session windows per user over an events frame,
    batch or stream (``streaming_session_windows`` drains the same plan
    from a file stream)."""
    return (
        ev.groupBy("user_id", F.session_window("ts", "5 minutes").alias("s"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


@query("sessionize_events", oracle=SESSION_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 5-minute-gap session windows per user via
    the native session_window operator (one shuffle; state-free in
    batch). Oracle is the classic gaps-and-islands SQL; Spark's
    session_window end = last event + gap, mirrored in the oracle."""
    return sessions(load(spark, sf_dir, "events"))


@query(
    "multimodal_binary_features",
    oracle="""
SELECT doc_id AS media_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       md5(text) AS digest
FROM documents
""",
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing proof: documents as opaque binary payloads →
    Arrow-batched mapInPandas feature extraction (byte stats + digest).
    The oracle checks the codec-free features (length, md5) — DuckDB
    computes identical values; the decode stubs stay NotImplementedError
    until real codecs exist (operators/multimodal.py)."""
    docs = spread(load(spark, sf_dir, "documents"))
    media = mm.documents_as_media(docs)
    return mm.extract_features(media).select("media_id", "n_bytes", "digest")


SLIDING_WINDOW_ORACLE = """
WITH w AS (
    SELECT user_id, value,
           unnest([
               make_timestamp((CAST(floor(epoch_us(CAST(ts AS TIMESTAMP))
                   / 900000000) AS BIGINT) - 1) * 900000000),
               make_timestamp(CAST(floor(epoch_us(CAST(ts AS TIMESTAMP))
                   / 900000000) AS BIGINT) * 900000000)
           ]) AS window_start
    FROM events
)
SELECT user_id, window_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM w
GROUP BY user_id, window_start
"""


OHLC_ORACLE = """
WITH ranked AS (
    SELECT event_type,
           date_trunc('hour', ts) AS bucket,
           value, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts, event_id) AS rn_open,
           ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn_close
    FROM events
)
SELECT event_type, bucket,
       MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
FROM ranked
GROUP BY event_type, bucket
"""


def ohlc_rollup(ev: DataFrame) -> DataFrame:
    """Per (event_type, hour): open/high/low/close, count and a
    decimal-exact volume over an events frame, batch or stream
    (``timeseries_ohlc_downsample`` and ``streaming_ohlc_rollup``)."""
    order = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bucket"),
            "value",
            "ts",
            "event_id",
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.min_by("value", order).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("volume"),
        )
    )


def sliding_window_sums(ev: DataFrame) -> DataFrame:
    """Per-user event count and decimal-exact value sum in 30-minute
    windows sliding by 15 minutes, over an events frame, batch or
    stream (``streaming_sliding_window`` drains the same plan)."""
    return (
        ev.groupBy(
            "user_id", F.window("ts", "30 minutes", "15 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            "n",
            "sum_value",
        )
    )


@query("sliding_window_user_value", oracle=SLIDING_WINDOW_ORACLE)
def sliding_window_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time window, 30 min wide sliding by
    15 min: every event lands in exactly two windows (W1 generalized —
    the reference only tumbles, ``/root/reference/src/main.rs:54``).
    Spark expands the window assignment in-row (a narrow explode of 2
    struct values), then one shuffle keyed by (user, window_start); the
    oracle states the same assignment arithmetic with an explicit
    unnest of the two bucket starts. Sums run in decimal so window
    totals are partition-order independent."""
    return sliding_window_sums(load(spark, sf_dir, "events"))


@query(
    "multimodal_frame_sample",
    oracle="""
WITH f AS (
    SELECT doc_id AS media_id,
           CAST(u.f AS INTEGER) AS frame_no,
           substring(text, CAST(u.f AS BIGINT) * 256 + 1, 256) AS frame
    FROM documents,
         LATERAL (SELECT unnest(range(0, greatest(length(text) // 256, 1), 10))
                  AS f) u
)
SELECT media_id, frame_no, md5(frame) AS digest,
       CAST(length(frame) AS INTEGER) AS n_bytes
FROM f
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over opaque binary payloads: chunk
    each blob into fixed-size pseudo-frames, keep every 10th, emit
    (media_id, frame_no, digest, n_bytes). The mapInPandas plumbing —
    schema, Arrow batching, per-row fan-out — is exactly what a real
    ffmpeg-backed frame extractor needs; only the byte-slicing body is
    a stand-in (operators/multimodal.py). Oracle note: DuckDB has no
    BLOB slicing, but the corpus is pure ASCII (verified 0 multi-byte
    docs at every sf), so char-based substring over the text reproduces
    the Python byte slices and md5(varchar) digests the same bytes —
    the Arrow pipeline's output is hash-checked end to end."""
    docs = spread(load(spark, sf_dir, "documents"))
    frames = mm.sample_frames(mm.documents_as_media(docs), every_nth=10)
    return frames.select(
        "media_id",
        "frame_no",
        F.md5("frame").alias("digest"),
        F.octet_length("frame").alias("n_bytes"),
    )


@query(
    "timeseries_gap_fill",
    oracle="""
WITH b AS (
    SELECT user_id,
           time_bucket(INTERVAL 30 MINUTES, CAST(ts AS TIMESTAMP))
               AS window_start,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_value
    FROM events GROUP BY user_id, window_start
),
bounds AS (
    SELECT user_id, MIN(window_start) AS mn, MAX(window_start) AS mx
    FROM b GROUP BY user_id
),
grid AS (
    SELECT user_id,
           unnest(generate_series(mn, mx, INTERVAL 30 MINUTES)) AS window_start
    FROM bounds
),
j AS (
    SELECT g.user_id, g.window_start, b.avg_value
    FROM grid g LEFT JOIN b
      ON b.user_id = g.user_id AND b.window_start = g.window_start
)
SELECT user_id, window_start, avg_value,
       last_value(avg_value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY window_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       (avg_value IS NULL) AS is_gap
FROM j
""",
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill (the TimescaleDB op the reference's
    sensor domain wants): aggregate per 30-min bucket, DENSIFY each
    user's series onto a complete bucket grid (sequence + explode — the
    grid is generated per key from its own min/max, never a global
    calendar cross join), then forward-fill empty buckets from the last
    observed value. Shuffles: one keyed agg, one grid join (broadcast:
    the aggregated side is |users|x|buckets|, tiny next to raw events),
    one window scan per user. At 100 TB the grid stays proportional to
    the AGGREGATED row count, not the event count."""
    ev = load(spark, sf_dir, "events")
    b = (
        ev.groupBy("user_id", F.window("ts", "30 minutes").alias("w"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value")
        )
        .select("user_id", F.col("w.start").alias("window_start"), "avg_value")
    )
    grid = (
        b.groupBy("user_id")
        .agg(F.min("window_start").alias("mn"), F.max("window_start").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 30 MINUTES"))
            ).alias("window_start"),
        )
    )
    j = grid.join(b, ["user_id", "window_start"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        "window_start",
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("avg_value").isNull().alias("is_gap"),
    )


@query(
    "multimodal_resize",
    oracle="""
WITH r AS (
    SELECT doc_id AS media_id,
           array_to_string(list_transform(
               range(1, length(text) + 1, 4), i -> substr(text, i, 1)), '')
               AS resized
    FROM documents
)
SELECT media_id, md5(resized) AS digest,
       CAST(length(resized) AS BIGINT) AS n_bytes,
       CAST(4 AS INTEGER) AS scale_factor
FROM r
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (every 4th byte as the codec-free stand-in
    for a real resample) over Arrow-batched mapInPandas — binary stays
    in Arrow buffers end to end. Oracle: the corpus is pure ASCII, so
    every-4th-char selection over the text reproduces the byte stride
    and md5 digests the same bytes (same trick as
    multimodal_frame_sample)."""
    docs = spread(load(spark, sf_dir, "documents"))
    resized = mm.resize_media(mm.documents_as_media(docs), factor=4)
    return resized.select(
        "media_id",
        F.md5("content").alias("digest"),
        F.octet_length("content").cast("long").alias("n_bytes"),
        "scale_factor",
    )


# --- real-codec audio decode ----------------------------------------------
# 8 PCM16 samples per payload, derived from event_id via co-prime
# multipliers so adjacent payloads differ in every sample.
_WAV_PRIMES = (7, 11, 13, 17, 19, 23, 29, 31)

# Constant 44-byte RIFF/WAVE header for: PCM (fmt tag 1), mono, 16 kHz,
# 16-bit, data chunk of 16 bytes (8 samples). All little-endian.
_WAV_HEADER = bytes.fromhex(
    "52494646"  # "RIFF"
    "34000000"  # riff size = 52 = 4 + (8+16) + (8+16)
    "57415645"  # "WAVE"
    "666d7420"  # "fmt "
    "10000000"  # fmt chunk size = 16
    "0100"      # audio format = 1 (PCM)
    "0100"      # channels = 1
    "803e0000"  # sample rate = 16000
    "007d0000"  # byte rate = 32000
    "0200"      # block align = 2
    "1000"      # bits per sample = 16
    "64617461"  # "data"
    "10000000"  # data chunk size = 16
)


def _pack_wav(e: int) -> bytes:
    """Genuine 60-byte RIFF/WAVE PCM16 file of event ``e``: sample i is
    (e * _WAV_PRIMES[i]) mod 65536, little-endian."""
    return _WAV_HEADER + struct.pack(
        "<8H", *[(e * p) % 65536 for p in _WAV_PRIMES]
    )


def _wav_signed_sql(p: int) -> str:
    v = f"(event_id * {p}) % 65536"
    return f"(CASE WHEN {v} >= 32768 THEN {v} - 65536 ELSE {v} END)"


_WAV_SUM_SQL = " + ".join(_wav_signed_sql(p) for p in _WAV_PRIMES)
_WAV_MAXABS_SQL = "GREATEST(" + ", ".join(
    f"ABS({_wav_signed_sql(p)})" for p in _WAV_PRIMES
) + ")"


@query(
    "multimodal_audio_stats",
    oracle=f"""
SELECT event_id AS media_id,
       CAST(16000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(8 AS BIGINT) AS n_samples,
       CAST({_WAV_SUM_SQL} AS BIGINT) AS sum_samples,
       CAST({_WAV_MAXABS_SQL} AS INTEGER) AS max_abs,
       CAST({_WAV_SUM_SQL} AS DOUBLE) / 8.0 AS mean_sample
FROM events
""",
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL codec proven end-to-end (the audio analog of
    ruuvi_binary_roundtrip): deterministic PCM16 samples derived from
    event_id are packed into genuine 44-byte-header RIFF/WAVE files
    (:func:`_pack_wav`) and decoded by the stdlib ``struct`` RIFF
    parser (operators/multimodal.py:decode_wav: chunk-tree walk → fmt
    validation → LE sign-correct sample decode) in the same
    Arrow-batched pass over bare ids, then reduced to integer-exact
    stats. The oracle computes the same stats ARITHMETICALLY from
    event_id, so a hash match proves header layout, chunk walking,
    byte order, sign handling, and sample extraction are the identity —
    no fake decode anywhere on this path. Reference analog: the
    format-5 BLE decoder ``scanner.rs:35-83``; here the payload is a
    real media container format."""
    # spread(): a single local split would pin pack+decode to one core.
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    ids = ev.select(F.col("event_id").alias("media_id"))
    return mm.pcm_audio_stats(ids, lambda e: mm.decode_wav(_pack_wav(e)))


@query(
    "timeseries_seasonal_decompose",
    oracle="""
WITH b AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
           SUM(CAST(value AS DECIMAL(18,6))) AS y
    FROM events GROUP BY 1, 2
),
w AS (
    SELECT event_type, bucket_ts, y,
           SUM(y) OVER (PARTITION BY event_type ORDER BY bucket_ts
                        ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS s,
           COUNT(*) OVER (PARTITION BY event_type ORDER BY bucket_ts
                          ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS c
    FROM b
),
i AS (
    SELECT event_type, bucket_ts, y, s,
           25 * y - s AS det, EXTRACT(hour FROM bucket_ts) AS hod
    FROM w WHERE c = 25
),
se AS (
    SELECT event_type, hod, SUM(det) AS sd, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM i GROUP BY 1, 2
)
SELECT i.event_type, i.bucket_ts,
       ROUND(CAST(i.y AS DOUBLE), 6) AS hourly_total,
       ROUND(CAST(i.s AS DOUBLE) / 25, 6) AS trend,
       ROUND(CAST(se.sd AS DOUBLE) / (25 * se.cnt), 6) AS seasonal,
       ROUND(CAST(i.y AS DOUBLE) - CAST(i.s AS DOUBLE) / 25
             - CAST(se.sd AS DOUBLE) / (25 * se.cnt), 6) AS resid
FROM i JOIN se USING (event_type, hod)
""",
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (STL-lite) of the
    per-type hourly volume series: trend = centered 25-hour moving
    average, seasonal = hour-of-day mean of the detrended series,
    resid = y - trend - seasonal — the monitoring/forecasting primitive
    behind 'is this dip a daily rhythm or an incident?'.

    Float discipline (the repo's decimal-moments pattern taken one
    step further): the hourly totals accumulate in DECIMAL, and
    because only COMPLETE 25-row neighborhoods qualify, the trend is
    the exact rational S/25 — so the detrended series is kept as the
    EXACT decimal 25*y - S, the seasonal sums stay decimal, and every
    division happens once, at the end, in ONE fixed-shape IEEE
    expression both engines evaluate identically. No double is ever
    summed. The ROWS frame assumes a regular series (true at sf0.1;
    timeseries_gap_fill is the documented pre-step for gappy data).

    100 TB posture: the fact table is touched ONCE by the bucketing
    aggregate (map-side combinable); every window and join downstream
    runs over the BUCKET table, whose size is |types| x |hours| —
    bounded by the time span, independent of fact scale. The 25-row
    window partitions by event_type; the seasonal profile (<= 24 rows
    per type) joins back by (type, hour-of-day).
    Reference analog: the 30-min tumbling accumulation of
    ``main.rs:69-122``, extended from per-window means to a
    trend/seasonal/residual split."""
    ev = load(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("y"))
    wspec = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(-12, 12)
    )
    w = b.select(
        "event_type",
        "bucket_ts",
        "y",
        F.sum("y").over(wspec).alias("s"),
        F.count(F.lit(1)).over(wspec).alias("c"),
    )
    i = w.filter(F.col("c") == 25).select(
        "event_type",
        "bucket_ts",
        "y",
        "s",
        (25 * F.col("y") - F.col("s")).alias("det"),
        F.hour("bucket_ts").alias("hod"),
    )
    se = i.groupBy("event_type", "hod").agg(
        F.sum("det").alias("sd"), F.count(F.lit(1)).alias("cnt")
    )
    yd = F.col("y").cast("double")
    trend = F.col("s").cast("double") / 25
    seasonal = F.col("sd").cast("double") / (25 * F.col("cnt"))
    return i.join(F.broadcast(se), ["event_type", "hod"]).select(
        "event_type",
        "bucket_ts",
        F.round(yd, 6).alias("hourly_total"),
        F.round(trend, 6).alias("trend"),
        F.round(seasonal, 6).alias("seasonal"),
        F.round(yd - trend - seasonal, 6).alias("resid"),
    )


# The exact integer Holt-Winters fold as a recursive CTE over the hourly
# series; r carries (level, trend, sea) per hour. Shared by the batch and
# the streaming oracle.
HW_CTES = """
WITH RECURSIVE
b AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
o AS (
    SELECT event_type, bucket_ts, y,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket_ts)
               AS i
    FROM b
),
r AS (
    SELECT event_type, i, bucket_ts, y,
           y AS level, CAST(0 AS BIGINT) AS trend,
           [CAST(0 AS BIGINT) for x in range(24)] AS sea
    FROM o WHERE i = 1
    UNION ALL
    SELECT o.event_type, o.i, o.bucket_ts, o.y,
           CAST(FLOOR((o.y - r.sea[1] + r.level + r.trend) / 2.0)
                AS BIGINT),
           CAST(FLOOR((CAST(FLOOR((o.y - r.sea[1] + r.level + r.trend)
                                  / 2.0) AS BIGINT)
                       - r.level + r.trend) / 2.0) AS BIGINT),
           r.sea[2:24] ||
             [CAST(FLOOR((o.y
                          - CAST(FLOOR((o.y - r.sea[1] + r.level + r.trend)
                                       / 2.0) AS BIGINT)
                          + r.sea[1]) / 2.0) AS BIGINT)]
    FROM r JOIN o ON o.event_type = r.event_type AND o.i = r.i + 1
)
"""
_HW_ORACLE = HW_CTES + """
SELECT event_type, bucket_ts,
       ROUND(CAST(y AS DOUBLE) / 1000000, 6) AS actual,
       ROUND(CAST(level + trend + sea[1] AS DOUBLE) / 1000000, 6)
           AS forecast_next
FROM r
"""


@query("timeseries_holt_winters", oracle=_HW_ORACLE)
def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple-exponential smoothing, one-step-
    ahead: level/trend/seasonal(24) state folds through the per-type
    hourly series and each hour emits the forecast for the next — the
    classic streaming forecaster (the EWMA family completed with trend
    and seasonality).

    EXACT iterative arithmetic: alpha = beta = gamma = 1/2, so every
    update is floor((a + b) / 2) over integer MICRO-units (the
    streaming-EWMA quantization discipline) — level_t =
    floor((y_t - s_(t-24) + level_(t-1) + trend_(t-1))/2), trend and
    seasonal likewise; init level_1 = y_1, trend_1 = 0, seasonal
    learned from zero. No float ever accumulates, so the DuckDB twin —
    a genuinely RECURSIVE CTE threading (level, trend, sea LIST)
    through ~720 iterations per type, the unbounded-iteration
    companion to the graph family's unrolled oracles — reproduces
    every forecast bit-for-bit.

    100 TB posture: ONE fact pass builds the hourly buckets
    (map-side combinable); the sequential fold is inherently serial
    PER KEY (that is what a forecaster is), so it runs as one
    ``aggregate`` lambda over each type's collected series — bounded
    by the time span (720 points/month), independent of fact scale,
    parallel across types. Reference analog: the per-sensor
    accumulate-then-emit loop of ``main.rs:69-122`` with state carried
    instead of reset."""
    ev = load(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
        .cast("long")
        .alias("y")
    )
    series = b.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("bucket_ts", "y"))
        ).alias("ser")
    )
    out_t = (
        "array<struct<bucket_ts:timestamp,y:bigint,fc:bigint>>"
    )
    zero = F.struct(
        F.lit(False).alias("started"),
        F.lit(0).cast("long").alias("level"),
        F.lit(0).cast("long").alias("trend"),
        F.array_repeat(F.lit(0).cast("long"), 24).alias("sea"),
        F.array().cast(out_t).alias("out"),
    )

    def step(acc, x):
        first = ~acc["started"]
        s24 = F.element_at(acc["sea"], 1)
        nl = F.when(first, x["y"]).otherwise(
            F.floor((x["y"] - s24 + acc["level"] + acc["trend"]) / 2.0)
        )
        nt = F.when(first, F.lit(0).cast("long")).otherwise(
            F.floor((nl - acc["level"] + acc["trend"]) / 2.0)
        )
        snew = F.floor((x["y"] - nl + s24) / 2.0)
        sea2 = F.concat(F.slice(acc["sea"], 2, 23), F.array(snew))
        fc = nl + nt + F.element_at(sea2, 1)
        return F.struct(
            F.lit(True).alias("started"),
            nl.alias("level"),
            nt.alias("trend"),
            sea2.alias("sea"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        x["bucket_ts"].alias("bucket_ts"),
                        x["y"].alias("y"),
                        fc.alias("fc"),
                    )
                ),
            ).alias("out"),
        )

    folded = series.select(
        "event_type",
        F.aggregate("ser", zero, step, lambda acc: acc["out"]).alias("out"),
    )
    return folded.select(
        "event_type", F.explode("out").alias("o")
    ).select(
        "event_type",
        F.col("o.bucket_ts").alias("bucket_ts"),
        F.round(F.col("o.y").cast("double") / 1000000, 6).alias("actual"),
        F.round(F.col("o.fc").cast("double") / 1000000, 6).alias(
            "forecast_next"
        ),
    )
