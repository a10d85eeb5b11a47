"""Product/ops-analytics registry queries over the events stream:
OHLC time-bucket downsampling (hypertable-style rollup), staged funnel
conversion, weekly retention cohorts, and z-score outlier detection.

These generalize the reference's windowed-aggregate core (30-min
tumbling means, ``/root/reference/src/main.rs:69-122`` and
``src/utils.rs:37-95``) to the aggregate shapes a monitoring/analytics
consumer of the same keyed time-series would run next.

Scale posture: every query is a keyed aggregate or a keyed window —
shuffles are keyed by (type, bucket), user_id, or cohort week, all
high-cardinality and uniform; no collects, no cross joins, no
unpartitioned windows. Float discipline: double sums go through
DECIMAL so results are accumulation-order-independent, then ONE
IEEE-double expression at the end, mirrored exactly in the oracle.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import multimodal as mm
from ..operators.asof import asof_join
from ..operators.dedup import spread
from ..sources import load
from .registry import query
from .timeseries import OHLC_ORACLE, ohlc_rollup


@query("timeseries_ohlc_downsample", oracle=OHLC_ORACLE)
def timeseries_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, hour) emit the first/max/min/
    last value plus count and an exact decimal-summed volume — the
    classic hypertable continuous-aggregate rollup.

    ONE map-side-combinable groupBy aggregate: open/close via
    min_by/max_by on the (ts, event_id) struct (deterministic — event_id
    is unique), no sort and no window, so the shuffle carries one partial
    row per (type, hour, map task) regardless of input size. The oracle
    expresses first/last via ROW_NUMBER because DuckDB's arg_min over
    composite keys differs across versions."""
    return ohlc_rollup(load(spark, sf_dir, "events"))


def _funnel_ctes(within: str) -> str:
    """Oracle CTEs staged .. per_user of the ordered funnel: per user
    the first view, the first click after it and the first purchase
    after that click; ``within`` (SQL interval text, or "") caps each
    step's gap to the previous one."""

    def after(anchor: str) -> str:
        cap = f" AND ts <= {anchor} + INTERVAL {within}" if within else ""
        return f"AND {anchor} IS NOT NULL AND ts > {anchor}{cap}"

    click = f"event_type = 'click' {after('first_view_so_far')}"
    purchase = f"event_type = 'purchase' {after('first_click_so_far')}"
    running = """OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
    return f"""WITH staged AS (
    SELECT user_id, ts, event_id, event_type,
           MIN(CASE WHEN event_type = 'view' THEN ts END)
               {running}
               AS first_view_so_far
    FROM events
),
clicked AS (
    SELECT user_id, ts, event_id, event_type, first_view_so_far,
           MIN(CASE WHEN {click} THEN ts END)
               {running}
               AS first_click_so_far
    FROM staged
),
per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN {click} THEN ts END) AS t_click,
           MIN(CASE WHEN {purchase} THEN ts END) AS t_purchase
    FROM clicked
    GROUP BY user_id
)"""


def _funnel_stages(
    ev: DataFrame, within: Column | None, labels: tuple[str, str, str]
) -> DataFrame:
    """(stage, users): the three funnel stage counts under ``labels``.
    Running-min windows (first-view-so-far, first-qualifying-click-so-
    far) share the user_id partitioning, so the funnel costs ONE
    shuffle; ``within`` caps each step's gap to the previous one."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def step(event_type: str, anchor: str) -> Column:
        ok = (
            (F.col("event_type") == event_type)
            & F.col(anchor).isNotNull()
            & (F.col("ts") > F.col(anchor))
        )
        return ok if within is None else ok & (F.col("ts") <= F.col(anchor) + within)

    staged = ev.withColumn(
        "first_view_so_far",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    click_ok = step("click", "first_view_so_far")
    clicked = staged.withColumn(
        "first_click_so_far", F.min(F.when(click_ok, F.col("ts"))).over(w)
    )
    per_user = clicked.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(click_ok, F.col("ts"))).alias("t_click"),
        F.min(
            F.when(step("purchase", "first_click_so_far"), F.col("ts"))
        ).alias("t_purchase"),
    )
    counts = per_user.agg(
        F.count("t_view").alias("v"),
        F.count("t_click").alias("c"),
        F.count("t_purchase").alias("p"),
    )
    return counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(label).alias("stage"), F.col(c).alias("users"))
                    for label, c in zip(labels, "vcp")
                ]
            )
        ).alias("s")
    ).select("s.stage", "s.users")


@query(
    "funnel_view_click_purchase",
    oracle=_funnel_ctes("")
    + """
SELECT stage, users,
       ROUND(users / CAST(NULLIF(MAX(users) OVER (), 0) AS DOUBLE), 4)
           AS pct_of_top
FROM (
    SELECT '1_view' AS stage, CAST(COUNT(t_view) AS BIGINT) AS users FROM per_user
    UNION ALL
    SELECT '2_click', CAST(COUNT(t_click) AS BIGINT) FROM per_user
    UNION ALL
    SELECT '3_purchase', CAST(COUNT(t_purchase) AS BIGINT) FROM per_user
)
""",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel: users who viewed, then clicked strictly
    after their first view, then purchased strictly after their first
    qualifying click. Sequential dependencies resolve via running-min
    windows (first-view-so-far, first-qualifying-click-so-far) — both
    windows share the user_id partitioning so the whole funnel costs ONE
    shuffle, then a per-user aggregate collapses to stage timestamps and
    a 3-row summary. No self-joins, no per-stage passes over the corpus.
    """
    stages = _funnel_stages(
        load(spark, sf_dir, "events"), None, ("1_view", "2_click", "3_purchase")
    )
    top = Window.partitionBy()
    # NULLIF on BOTH sides: with zero users at every stage, Spark's 0/0
    # is NULL but DuckDB's is NaN — nulling the denominator keeps the
    # engines identical on the empty-funnel edge.
    denom = F.nullif(F.max("users").over(top), F.lit(0)).cast("double")
    return stages.select(
        "stage",
        "users",
        F.round(F.col("users") / denom, 4).alias("pct_of_top"),
    )


@query(
    "retention_weekly_cohorts",
    oracle="""
WITH firsts AS (
    SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       CAST((epoch(date_trunc('week', e.ts)) - epoch(f.cohort_week)) / 604800
            AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN firsts f USING (user_id)
GROUP BY 1, 2
""",
)
def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the ISO week of their
    first event; per (cohort_week, week_offset) the count of distinct
    users still active. Two keyed shuffles total — the per-user first
    event and the events⋈cohorts join share the user_id key (the second
    reuses the first's partitioning), then one distinct-count aggregate
    keyed by (cohort, offset). Cohort assignment is a fact-to-fact join
    keyed by user_id, not a broadcast: the cohort side is one row per
    user and grows with the corpus."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    joined = ev.join(firsts, "user_id")
    offset = (
        (
            F.unix_timestamp(F.date_trunc("week", F.col("ts")))
            - F.unix_timestamp("cohort_week")
        )
        / 604800
    ).cast("long")
    return (
        joined.select("cohort_week", offset.alias("week_offset"), "user_id")
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@query(
    "timeseries_zscore_outliers",
    oracle="""
WITH stats AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value AS DECIMAL(18,6))
                    * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
    FROM events GROUP BY event_type
    HAVING COUNT(*) > 1
       AND CAST(SUM(CAST(value AS DECIMAL(18,6))
                    * CAST(value AS DECIMAL(18,6))) AS DOUBLE)
           - CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             * CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS BIGINT) > 0
)
SELECT e.event_id, e.event_type, e.value,
       ROUND((e.value - s.s1 / s.n)
             / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)), 4) AS zscore
FROM events e JOIN stats s USING (event_type)
WHERE abs((e.value - s.s1 / s.n)
          / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1))) > 2.5
""",
)
def timeseries_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection: events whose value is >2.5 sample
    standard deviations from their event_type's mean. The per-type
    moments accumulate in DECIMAL(18,6)/(37,12) (order-independent; the
    6dp cast rounds identically in both engines on this data — the same
    discipline every monetary sum in the repo uses);
    mean/variance/z then evaluate in ONE fixed-shape IEEE expression so
    Spark and DuckDB produce bit-identical doubles. The tiny per-type
    stats table broadcasts back onto the scan — one aggregate shuffle,
    one broadcast join, no window over the fact table."""
    ev = load(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(18,6)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).cast("double").alias("s1"),
        F.sum(d * d).cast("double").alias("s2"),
    ).filter(
        (F.col("n") > 1)
        & (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n") > 0)
    )
    # n > 1 on BOTH sides: a single-row type would divide by n-1 = 0,
    # where Spark yields NULL but DuckDB yields ±Inf. The variance>0
    # guard (same double expression both engines) excludes
    # near-constant types whose s2 - s1*s1/n rounds to a tiny negative
    # double: Spark sqrt() would yield NaN (silently keeping rows,
    # since NaN > 2.5 there) while DuckDB sqrt() raises — the filter
    # keeps the two engines (and the z definition) total.
    joined = ev.join(F.broadcast(stats), "event_type")
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        joined.filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 4).alias("zscore"),
        )
    )


# --- real-codec image decode ----------------------------------------------
# A 3x2 24-bit bottom-up BMP per event_id: width 3 makes the row stride
# padding non-trivial (9 pixel bytes pad to 12), height 2 makes the
# bottom-up un-flip observable. 18 channel values (6 pixels x RGB)
# derive from event_id via co-prime multipliers mod 256; image pixel
# p = y*3 + x (y=0 = top row) uses multipliers M[3p], M[3p+1], M[3p+2]
# for R, G, B.
_BMP_PRIMES = (3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61, 67)

# Constant 54-byte header: BITMAPFILEHEADER ("BM", size 78, offset 54)
# + BITMAPINFOHEADER (40 bytes: 3x2, 1 plane, 24 bpp, BI_RGB,
# 24-byte pixel array). All little-endian.
_BMP_HEADER_HEX = (
    "424d"      # "BM"
    "4e000000"  # file size = 78 = 54 + 2 rows * 12-byte stride
    "00000000"  # reserved
    "36000000"  # pixel array offset = 54
    "28000000"  # info header size = 40
    "03000000"  # width = 3
    "02000000"  # height = 2 (positive: bottom-up)
    "0100"      # planes = 1
    "1800"      # bits per pixel = 24
    "00000000"  # compression = 0 (BI_RGB)
    "18000000"  # image size = 24
    "00000000"  # x pixels/m
    "00000000"  # y pixels/m
    "00000000"  # colors used
    "00000000"  # important colors
)


def _bmp_chan_sql(p: int) -> str:
    return f"(event_id * {p}) % 256"


def _bmp_sum_sql(offset: int) -> str:
    # channel `offset` (0=R,1=G,2=B) summed over the 6 pixels
    return " + ".join(_bmp_chan_sql(_BMP_PRIMES[3 * p + offset]) for p in range(6))


_BMP_MAX_SQL = "GREATEST(" + ", ".join(
    _bmp_chan_sql(m) for m in _BMP_PRIMES
) + ")"
_BMP_LUMA_SQL = " + ".join(_bmp_chan_sql(m) for m in _BMP_PRIMES)


_BMP_HEADER = bytes.fromhex(_BMP_HEADER_HEX)


def _dib_3x2(chan: list[int]) -> bytes:
    """The 24-byte pixel array of a 3x2 24-bit DIB from 18 channel
    values (pixel p = y*3 + x, channels r, g, b at 3p..3p+2): BGR byte
    order, 3 pad bytes per 9-byte row, bottom row first. Shared by the
    BMP and AVI packers."""
    rows = [
        bytes(chan[3 * p + c] for p in range(3 * y, 3 * y + 3) for c in (2, 1, 0))
        + b"\0\0\0"
        for y in (1, 0)
    ]
    return b"".join(rows)


def _pack_bmp(e: int) -> bytes:
    """Genuine 78-byte 3x2 24-bit BI_RGB BMP of event ``e``: channel i
    is (e * _BMP_PRIMES[i]) mod 256."""
    return _BMP_HEADER + _dib_3x2([(e * m) % 256 for m in _BMP_PRIMES])


@query(
    "multimodal_image_stats",
    oracle=f"""
SELECT event_id AS media_id,
       CAST(3 AS INTEGER) AS width,
       CAST(2 AS INTEGER) AS height,
       CAST(6 AS BIGINT) AS n_pixels,
       CAST({_bmp_sum_sql(0)} AS BIGINT) AS sum_r,
       CAST({_bmp_sum_sql(1)} AS BIGINT) AS sum_g,
       CAST({_bmp_sum_sql(2)} AS BIGINT) AS sum_b,
       CAST({_BMP_MAX_SQL} AS INTEGER) AS max_channel,
       CAST((event_id * {_BMP_PRIMES[0]}) % 256 AS INTEGER) AS topleft_r,
       CAST({_BMP_LUMA_SQL} AS DOUBLE) / 18.0 AS mean_luma
FROM events
""",
)
def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND real codec proven end-to-end (image twin of
    multimodal_audio_stats): deterministic RGB channels derived from
    event_id are packed into genuine 78-byte 24-bit BI_RGB BMP files
    (:func:`_pack_bmp`: both headers, per-pixel BGR byte order, 4-byte
    row stride padding, bottom-up row order) and decoded by the stdlib
    ``struct`` BMP parser (operators/multimodal.py:decode_bmp_array) in
    the same Arrow-batched pass over bare ids. ``topleft_r`` is
    order-SENSITIVE: it only matches the oracle if the decoder un-flips
    the bottom-up rows AND swaps BGR to RGB, which the channel sums
    alone could not prove. The oracle computes every stat
    arithmetically from event_id, so a hash match proves the whole
    pack→parse→un-flip→reduce chain is the identity.
    Reference analog: the format-5 BLE decoder ``scanner.rs:35-83``."""
    # spread(): a single local parquet split would pin the pack+decode
    # work to one core; at scale the input has enough splits and this
    # is a no-op.
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    ids = ev.select(F.col("event_id").alias("media_id"))
    return mm.image_stats(ids, lambda e: mm.decode_bmp_array(_pack_bmp(e)))


def bmp_payload_hex_from_channels(pixels):
    """Assemble the 78-byte 3x2 24-bit BI_RGB BMP hex from six (r, g, b)
    Column triples (values taken mod 256): the two headers, per-pixel
    BGR byte order, 4-byte row stride padding, bottom-up row order.
    The SQL-side twin of :func:`_pack_bmp`, used by llm22's reference
    packer for dedup_image_bands."""

    def u8_hex(raw):
        return F.lpad(F.hex(F.pmod(raw, F.lit(256))), 2, "0")

    def pixel_bgr_hex(p: int):
        r, g, b = pixels[p]
        return F.concat(u8_hex(b), u8_hex(g), u8_hex(r))

    pad = F.lit("000000")  # 3 stride-pad bytes per 9-byte pixel row
    return F.concat(
        F.lit(_BMP_HEADER_HEX),
        # file row 0 = image bottom row (y=1): pixels 3,4,5
        pixel_bgr_hex(3), pixel_bgr_hex(4), pixel_bgr_hex(5), pad,
        # file row 1 = image top row (y=0): pixels 0,1,2
        pixel_bgr_hex(0), pixel_bgr_hex(1), pixel_bgr_hex(2), pad,
    )


# --- real compressed codec: PNG ------------------------------------------
# A 3x4 RGB8 PNG per event_id, one scanline per non-trivial filter type
# (row 0 = Sub, row 1 = Up, row 2 = Average, row 3 = Paeth) so filter
# reconstruction order is observable. 36 channel values (12 pixels x
# RGB) derive from event_id via co-prime multipliers mod 256; pixel
# p = y*3 + x uses multipliers M[3p..3p+2] for R, G, B.
_PNG_PRIMES = (
    3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41,
    43, 47, 53, 59, 61, 67, 71, 73, 79, 83, 89, 97,
    101, 103, 107, 109, 113, 127, 131, 137, 139, 149, 151, 157,
)
_PNG_W, _PNG_H = 3, 4
_PNG_STRIDE = _PNG_W * 3                      # 9 raw bytes per scanline
_PNG_DATA_LEN = _PNG_H * (1 + _PNG_STRIDE)    # 40 = 4 x (filter + 9)


def _png_fixed_chunks() -> tuple[bytes, bytes, bytes]:
    """(signature+IHDR, IDAT length, IEND) — all constant for the 3x4
    RGB8 layout, so their CRC-32s are computed once here."""
    ihdr_body = struct.pack(">IIBBBBB", _PNG_W, _PNG_H, 8, 2, 0, 0, 0)
    ihdr = (
        struct.pack(">I", len(ihdr_body))
        + b"IHDR"
        + ihdr_body
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_body))
    )
    # IDAT length: 2 zlib header + 5 stored-block header + data + 4 Adler
    idat_len = struct.pack(">I", 2 + 5 + _PNG_DATA_LEN + 4)
    iend = b"\x00\x00\x00\x00IEND" + struct.pack(">I", zlib.crc32(b"IEND"))
    return b"\x89PNG\r\n\x1a\n" + ihdr, idat_len, iend


_PNG_HEAD, _PNG_IDAT_LEN, _PNG_IEND = _png_fixed_chunks()
# zlib header, then one stored (BTYPE=00, BFINAL=1) deflate block:
# 0x01, LEN=40 LE, NLEN LE.
_PNG_ZLIB_PREFIX = bytes.fromhex("7801" "01" "2800" "d7ff")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


# PNG filter types 1..4 as predictors of (left, up, up-left).
_PNG_PREDICTORS = (
    lambda a, b, c: a,  # Sub
    lambda a, b, c: b,  # Up
    lambda a, b, c: (a + b) // 2,  # Average
    _paeth,
)


def _pack_png(e: int) -> bytes:
    """Genuine 3x4 RGB8 PNG of event ``e``: raw byte i of scanline y is
    (e * _PNG_PRIMES[9y + i]) mod 256, and scanline y is filtered with
    type y + 1 (Sub, Up, Average, Paeth) exactly as a PNG encoder
    emits it. The IDAT zlib stream is one stored deflate block with
    its Adler-32, and the IDAT chunk carries its CRC-32."""
    data, prev = bytearray(), [0] * _PNG_STRIDE
    for y, predict in enumerate(_PNG_PREDICTORS):
        line = [(e * m) % 256 for m in _PNG_PRIMES[9 * y : 9 * y + 9]]
        data.append(y + 1)
        for i, v in enumerate(line):
            left, upleft = (line[i - 3], prev[i - 3]) if i >= 3 else (0, 0)
            data.append((v - predict(left, prev[i], upleft)) % 256)
        prev = line
    idat = (
        b"IDAT" + _PNG_ZLIB_PREFIX + data + struct.pack(">I", zlib.adler32(data))
    )
    return (
        _PNG_HEAD + _PNG_IDAT_LEN + idat + struct.pack(">I", zlib.crc32(idat))
        + _PNG_IEND
    )


def _png_chan_sql(i: int) -> str:
    return f"(event_id * {_PNG_PRIMES[i]}) % 256"


def _png_sum_sql(offset: int) -> str:
    return " + ".join(_png_chan_sql(3 * p + offset) for p in range(12))


_PNG_MAX_SQL = "GREATEST(" + ", ".join(
    _png_chan_sql(i) for i in range(36)
) + ")"
_PNG_LUMA_SQL = " + ".join(_png_chan_sql(i) for i in range(36))


@query(
    "multimodal_png_stats",
    oracle=f"""
SELECT event_id AS media_id,
       CAST({_PNG_W} AS INTEGER) AS width,
       CAST({_PNG_H} AS INTEGER) AS height,
       CAST(12 AS BIGINT) AS n_pixels,
       CAST({_png_sum_sql(0)} AS BIGINT) AS sum_r,
       CAST({_png_sum_sql(1)} AS BIGINT) AS sum_g,
       CAST({_png_sum_sql(2)} AS BIGINT) AS sum_b,
       CAST({_PNG_MAX_SQL} AS INTEGER) AS max_channel,
       CAST((event_id * {_PNG_PRIMES[0]}) % 256 AS INTEGER) AS topleft_r,
       CAST({_PNG_LUMA_SQL} AS DOUBLE) / 36.0 AS mean_luma
FROM events
""",
)
def multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD real codec proven end-to-end, and the first COMPRESSED
    one: deterministic RGB channels derived from event_id are packed
    into genuine PNG files (:func:`_pack_png`: signature, IHDR, an IDAT
    whose zlib stream is a stored deflate block with its Adler-32, the
    chunk CRC-32s, IEND), then inflated and unfiltered by the stdlib
    zlib parser (operators/multimodal.py:decode_png_array) in the same
    Arrow-batched pass over bare ids. Each of the four scanlines uses a
    DIFFERENT filter type (Sub/Up/Average/Paeth), so a hash match
    proves the decoder reconstructs all four filters with the correct
    left/up/up-left neighbor topology — ``topleft_r`` and the channel
    sums are only right if the whole inflate→unfilter→reduce chain is
    the identity. Reference analog: the format-5 BLE byte decoder
    ``scanner.rs:35-83`` scaled to a real container format."""
    # spread(): a single local parquet split would pin the pack+decode
    # work to one core; at scale the input has enough splits and this
    # is a no-op.
    ev = spread(load(spark, sf_dir, "events").select("event_id"))
    ids = ev.select(F.col("event_id").alias("media_id"))
    return mm.image_stats(ids, lambda e: mm.decode_png_array(_pack_png(e)))


@query(
    "asof_next_purchase_after_view",
    oracle="""
WITH views AS (
    SELECT user_id, ts, event_id AS view_id
    FROM events WHERE event_type = 'view'
),
purchases AS (
    SELECT user_id, ts, MIN(event_id) AS purchase_id
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, ts
)
SELECT v.view_id, v.user_id,
       p.purchase_id AS purchase_id_next,
       CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS wait_seconds
FROM views v LEFT JOIN LATERAL (
    SELECT purchase_id, ts FROM purchases p
    WHERE p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY ts LIMIT 1
) p ON true
""",
)
def asof_next_purchase_after_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each view matched to the user's next purchase
    at-or-after it — the attribution direction the backward as-of
    (asof_purchase_last_view) cannot express. Same single-shuffle
    union-and-running-fill plan, traversed descending
    (operators/asof.py:asof_join, forward); the oracle states the
    semantics directly as a correlated LATERAL min-pick, which DuckDB
    decorrelates itself."""
    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("purchase_id"))
    )
    joined = asof_join(
        views,
        purchases.select(
            "user_id", "ts", "purchase_id", F.col("ts").alias("purchase_ts")
        ),
        key="user_id",
        ts_col="ts",
        right_value_cols=("purchase_id", "purchase_ts"),
        forward=True,
    )
    return joined.select(
        "view_id",
        "user_id",
        F.col("purchase_id_next"),
        (F.unix_timestamp("purchase_ts_next") - F.unix_timestamp("ts"))
        .cast("long")
        .alias("wait_seconds"),
    )


@query(
    "funnel_deadline_1h",
    oracle=_funnel_ctes("1 HOUR")
    + """
SELECT '1_view' AS stage, CAST(COUNT(t_view) AS BIGINT) AS users FROM per_user
UNION ALL
SELECT '2_click_1h', CAST(COUNT(t_click) AS BIGINT) FROM per_user
UNION ALL
SELECT '3_purchase_1h', CAST(COUNT(t_purchase) AS BIGINT) FROM per_user
""",
)
def funnel_deadline_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed funnel — the form product teams actually run: a click
    converts only within 1 hour of the user's first view, a purchase
    only within 1 hour of the first qualifying click. Identical
    one-shuffle running-min-window plan as the unbounded funnel
    (funnel_view_click_purchase); the deadline adds a pure per-row
    predicate, so the scale posture is unchanged."""
    return _funnel_stages(
        load(spark, sf_dir, "events"),
        F.expr("INTERVAL 1 HOUR"),
        ("1_view", "2_click_1h", "3_purchase_1h"),
    )
