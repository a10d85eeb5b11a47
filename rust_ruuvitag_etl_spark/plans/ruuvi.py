"""Reference-parity queries phrased over the driver's ``events`` table.

The reference pipeline is a keyed time-series windowed aggregation
(SURVEY.md §1.1): sensors ≈ ``user_id``, readings ≈ ``events`` rows,
metric ≈ ``value``, movement counter ≈ ``event_id % 256`` (a u8-wrapping
counter), registry ≈ ``customer`` (c_custkey=user_id → name). Each query
below is one §2 operator (or the full composition) with a DuckDB oracle.

The unit tests exercise the same operators on reference-shaped fixtures
(FIXTURES.md §A) through operators/ruuvi_pipeline.py; these registry
queries prove them on driver data with oracle verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import ruuvi as rf
from ..sources import load
from .registry import query

# --- shared building block: events as ruuvi-shaped readings ---------------


def _readings(ev: DataFrame) -> DataFrame:
    """events (a table or a stream) → (sensor=user_id, ts,
    metric=value, mc=event_id%256).

    The value-IS-NOT-NULL filter is the B3 validation predicate; the
    event_id tie-breaker gives deterministic ordering everywhere.
    """
    return ev.filter(F.col("value").isNotNull()).select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.pmod(F.col("event_id"), F.lit(256)).cast("int").alias("mc"),
    )


_READINGS_SQL = """
    SELECT user_id, ts, event_id, value,
           CAST(event_id % 256 AS INTEGER) AS mc
    FROM events WHERE value IS NOT NULL
"""

# --- the flagship: full pipeline composition ------------------------------

FLAGSHIP_ORACLE = f"""
WITH readings AS ({_READINGS_SQL}),
agg AS (
    SELECT user_id,
           time_bucket(INTERVAL 30 MINUTES, ts) AS window_start,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
           CAST(COUNT(*) AS BIGINT) AS samples,
           CAST(((MAX_BY(mc, event_id) - MIN_BY(mc, event_id)) % 256 + 256) % 256
                AS INTEGER) AS movement_delta
    FROM readings
    GROUP BY user_id, time_bucket(INTERVAL 30 MINUTES, ts)
)
SELECT a.user_id, a.window_start, a.avg_value, a.samples, a.movement_delta,
       COALESCE(c.c_name, 'Unknown') AS name
FROM agg a LEFT JOIN customer c ON c.c_custkey = a.user_id
"""


def flagship(ev: DataFrame, customer: DataFrame) -> DataFrame:
    """The flagship dataflow over an events frame, batch or stream
    (``streaming_ruuvi_flagship`` drains the same plan from a file
    stream): readings → 30-min window aggregate → broadcast name
    enrichment against ``customer``."""
    r = _readings(ev)
    agg = (
        r.groupBy("user_id", F.window("ts", "30 minutes").alias("w"))
        .agg(
            # Exact decimal sum ÷ count, not round(avg): small windows
            # land on exact .xx5 ties where engines' rounding diverges.
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
            F.count(F.lit(1)).alias("samples"),
            rf.wrapped_delta(
                F.max_by("mc", F.col("event_id")), F.min_by("mc", F.col("event_id"))
            ).alias("movement_delta"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            "avg_value",
            "samples",
            "movement_delta",
        )
    )
    cust = customer.select(F.col("c_custkey").alias("user_id"), F.col("c_name"))
    return agg.join(F.broadcast(cust), "user_id", "left").select(
        "user_id",
        "window_start",
        "avg_value",
        "samples",
        "movement_delta",
        F.coalesce("c_name", F.lit("Unknown")).alias("name"),
    )


@query("ruuvi_flagship", oracle=FLAGSHIP_ORACLE)
def ruuvi_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reference dataflow (``/root/reference/src/main.rs:66-185``)
    on events: validate → 30-min tumbling window per sensor → mean +
    count + wrapped first/last movement delta (``utils.rs:37-95``) →
    broadcast name enrichment with 'Unknown' default (``utils.rs:83-87``).

    One shuffle (the window groupBy); enrichment is broadcast."""
    return flagship(load(spark, sf_dir, "events"), load(spark, sf_dir, "customer"))


@query(
    "ruuvi_window_means",
    oracle=f"""
WITH readings AS ({_READINGS_SQL})
SELECT user_id,
       time_bucket(INTERVAL 30 MINUTES, ts) AS window_start,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
       ROUND(MIN(value), 2) AS min_value,
       ROUND(MAX(value), 2) AS max_value,
       CAST(COUNT(*) AS BIGINT) AS samples
FROM readings
GROUP BY user_id, time_bucket(INTERVAL 30 MINUTES, ts)
""",
)
def ruuvi_window_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+A1+A2: tumbling 30-min window, per-sensor mean/min/max/count
    (reference ``utils.rs:49-80``; W2 normalized to event-time window
    start per SURVEY §4.2.3)."""
    r = _readings(load(spark, sf_dir, "events"))
    return (
        r.groupBy("user_id", F.window("ts", "30 minutes").alias("w"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.count(F.lit(1)).alias("samples"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            "avg_value",
            "min_value",
            "max_value",
            "samples",
        )
    )


@query(
    "ruuvi_movement_delta",
    oracle=f"""
WITH readings AS ({_READINGS_SQL})
SELECT user_id,
       time_bucket(INTERVAL 30 MINUTES, ts) AS window_start,
       CAST(MIN_BY(mc, event_id) AS INTEGER) AS first_mc,
       CAST(MAX_BY(mc, event_id) AS INTEGER) AS last_mc,
       CAST(((MAX_BY(mc, event_id) - MIN_BY(mc, event_id)) % 256 + 256) % 256
            AS INTEGER) AS movement_delta
FROM readings
GROUP BY user_id, time_bucket(INTERVAL 30 MINUTES, ts)
""",
)
def ruuvi_movement_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: order-deterministic first/last wrapping delta
    (``utils.rs:64-71`` wrapping_sub → pmod; §4.2.1-2: min_by/max_by on a
    unique order key replaces Rust insertion order)."""
    r = _readings(load(spark, sf_dir, "events"))
    return (
        r.groupBy("user_id", F.window("ts", "30 minutes").alias("w"))
        .agg(
            F.min_by("mc", F.col("event_id")).cast("int").alias("first_mc"),
            F.max_by("mc", F.col("event_id")).cast("int").alias("last_mc"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            "first_mc",
            "last_mc",
            rf.wrapped_delta(F.col("last_mc"), F.col("first_mc")).alias(
                "movement_delta"
            ),
        )
    )


@query(
    "ruuvi_dedup_last_wins",
    oracle="""
WITH scans AS (
    SELECT user_id,
           time_bucket(INTERVAL 30 SECONDS, ts) AS scan_start,
           event_id, value
    FROM events WHERE value IS NOT NULL
)
SELECT user_id, scan_start,
       MAX_BY(value, event_id) AS value,
       CAST(MAX(event_id) AS BIGINT) AS event_id
FROM scans GROUP BY user_id, scan_start
""",
)
def ruuvi_dedup_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: last-wins dedup per sensor per 30-s scan bucket
    (``scanner.rs:99,185`` HashMap overwrite; poll cadence
    ``main.rs:55``). One hash aggregate, no sort window."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scans = ev.select(
        "user_id",
        F.window("ts", "30 seconds")["start"].alias("scan_start"),
        "event_id",
        "value",
    )
    return scans.groupBy("user_id", "scan_start").agg(
        F.max_by("value", F.col("event_id")).alias("value"),
        F.max("event_id").alias("event_id"),
    )


@query(
    "ruuvi_validate_clamp_round",
    oracle="""
SELECT event_id, user_id,
       ROUND(LEAST(value, 100.0), 2) AS clamped_value,
       value * 5 AS scaled_value
FROM events
WHERE value IS NOT NULL AND length(event_type) > 0
""",
)
def ruuvi_validate_clamp_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3+B4+B5: validation filter, clamp (``scanner.rs:53``), scale
    factor + half-up rounding (``scanner.rs:50,68``) as pure codegen'd
    expressions. The scale factor is an exact-in-binary integer so both
    engines produce bit-identical doubles (decimal-tie rounding of
    products is engine-dependent; see tests/test_oracle_parity.py)."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        F.col("value").isNotNull() & (F.length("event_type") > 0)
    ).select(
        "event_id",
        "user_id",
        rf.round2(rf.clamp(F.col("value"), hi=100.0)).alias("clamped_value"),
        (F.col("value") * F.lit(5)).alias("scaled_value"),
    )


@query(
    "ruuvi_registry_semi_join",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, e.value
FROM events e
WHERE e.value IS NOT NULL
  AND EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = e.user_id AND c.c_acctbal > 0)
""",
)
def ruuvi_registry_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: registry membership semi-join (``scanner.rs:175-178``) —
    broadcast left-semi against the 'configured' subset of customers."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    registry = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("user_id"))
    )
    return ev.join(F.broadcast(registry), "user_id", "left_semi").select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "ruuvi_sensor_output",
    oracle=f"""
WITH readings AS ({_READINGS_SQL}),
agg AS (
    SELECT user_id,
           time_bucket(INTERVAL 30 MINUTES, ts) AS window_start,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
           CAST(COUNT(*) AS BIGINT) AS samples
    FROM readings GROUP BY 1, 2
)
SELECT a.user_id AS sensor_id, a.window_start AS time, a.avg_value,
       COALESCE(c.c_name, 'Unknown') AS name, a.samples
FROM agg a LEFT JOIN customer c ON c.c_custkey = a.user_id
""",
)
def ruuvi_sensor_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (sensor_data side): the projected sink relation
    (``operations.rs:32-43``) — id, time, metric means, name, samples."""
    flag = ruuvi_flagship(spark, sf_dir)
    return flag.select(
        F.col("user_id").alias("sensor_id"),
        F.col("window_start").alias("time"),
        "avg_value",
        "name",
        "samples",
    )


@query(
    "ruuvi_movement_output",
    oracle=f"""
WITH readings AS ({_READINGS_SQL}),
agg AS (
    SELECT user_id,
           time_bucket(INTERVAL 30 MINUTES, ts) AS window_start,
           CAST(((MAX_BY(mc, event_id) - MIN_BY(mc, event_id)) % 256 + 256) % 256
                AS INTEGER) AS movement_counter,
           CAST(COUNT(*) AS BIGINT) AS samples
    FROM readings GROUP BY 1, 2
)
SELECT a.user_id AS sensor_id, a.window_start AS time, a.movement_counter,
       COALESCE(c.c_name, 'Unknown') AS name, a.samples
FROM agg a LEFT JOIN customer c ON c.c_custkey = a.user_id
""",
)
def ruuvi_movement_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (movement_data side): the second sink projection
    (``operations.rs:75-87``) with the wrapped delta as
    movement_counter (cast to i32 like ``operations.rs:82``)."""
    flag = ruuvi_flagship(spark, sf_dir)
    return flag.select(
        F.col("user_id").alias("sensor_id"),
        F.col("window_start").alias("time"),
        F.col("movement_delta").alias("movement_counter"),
        "name",
        "samples",
    )


@query(
    "ruuvi_str_to_map_config",
    oracle="""
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_tags,
       MIN(c_name) AS first_name
FROM customer
GROUP BY c_mktsegment
""",
)
def ruuvi_str_to_map_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: config-string parsing (``config.rs:36-53``) proven via
    ``str_to_map`` round-trip: build 'key=value' strings from customer
    rows, parse them back with one builtin, aggregate. The parse is the
    operator under test; the aggregate makes the result stable."""
    cust = load(spark, sf_dir, "customer")
    cfg = cust.select(
        F.concat_ws(
            ",",
            F.concat(F.lit("seg="), F.col("c_mktsegment")),
            F.concat(F.lit("name="), F.col("c_name")),
        ).alias("cfg")
    )
    parsed = cfg.select(rf.str_to_tag_map(F.col("cfg")).alias("m")).select(
        F.col("m")["seg"].alias("segment"), F.col("m")["name"].alias("name")
    )
    return parsed.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_tags"), F.min("name").alias("first_name")
    )


@query(
    "ruuvi_movement_delta_pandas",
    oracle=f"""
WITH readings AS ({_READINGS_SQL})
SELECT user_id,
       time_bucket(INTERVAL 30 MINUTES, ts) AS window_start,
       CAST(((MAX_BY(mc, event_id) - MIN_BY(mc, event_id)) % 256 + 256) % 256
            AS INTEGER) AS movement_delta
FROM readings
GROUP BY user_id, time_bucket(INTERVAL 30 MINUTES, ts)
""",
)
def ruuvi_movement_delta_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 as an ``applyInPandas`` grouped transform — the reusable
    custom-aggregate surface SURVEY.md §2.1 calls for (the wrapping
    first/last delta of ``utils.rs:64-71`` needs an *ordered* group,
    which a grouped-agg UDF cannot guarantee but a per-group pandas sort
    can). Grouped by SENSOR, not (sensor, window): the window fold runs
    vectorized inside pandas, so the Python crossing count is
    O(distinct sensors), not O(groups) — the granularity choice that
    keeps Arrow batches big at scale. Oracle: the min_by/max_by
    formulation — proving the imperative and algebraic forms agree."""
    import pandas as pd

    r = _readings(load(spark, sf_dir, "events")).withColumn(
        "window_start",
        F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / 1800) * 1800),
    )

    def deltas(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id")
        g = pdf.groupby("window_start", sort=False)["mc"]
        out = ((g.last() - g.first()) % 256).astype("int32").reset_index()
        out["user_id"] = pdf["user_id"].iloc[0]
        return out.rename(columns={"mc": "movement_delta"})[
            ["user_id", "window_start", "movement_delta"]
        ]

    # Explicit user-keyed repartition at default parallelism: AQE sizes
    # the pre-apply exchange by its ~3 MB of shuffle bytes and coalesces
    # to 3 partitions, serializing the per-group pandas work onto 3
    # Python workers (measured 10.3 s stage runTime, 0.56 s JVM CPU —
    # pure Python wait; guide §2.5/§2.6: bytes are the wrong proxy for
    # a Python stage's cost). The user-specified hash partitioning
    # satisfies the groupBy's clustering requirement, so no second
    # exchange is added — the stage just runs at full width.
    par = r.sparkSession.sparkContext.defaultParallelism
    return r.repartition(par, "user_id").groupBy("user_id").applyInPandas(
        deltas, schema="user_id bigint, window_start timestamp, movement_delta int"
    )


@query(
    "ruuvi_binary_roundtrip",
    oracle="""
SELECT event_id,
       ROUND((((event_id * 7) % 2001) * 2 - 2000) * 0.005, 2) AS temperature,
       ROUND(LEAST((((event_id * 11) % 10001) * 4) * 0.0025, 100.0), 2)
           AS humidity,
       ROUND(((event_id * 13) % 65536 + 50000) / 100.0, 2) AS pressure,
       ROUND(((event_id * 17) % 4001 - 2000) * 0.001, 3) AS acceleration_x,
       ROUND(((event_id * 19) % 4001 - 2000) * 0.001, 3) AS acceleration_y,
       ROUND(((event_id * 23) % 4001 - 2000) * 0.001, 3) AS acceleration_z,
       CAST(event_id % 256 AS INTEGER) AS movement_counter
FROM events
""",
)
def ruuvi_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 decode proven on REAL binary: deterministic field values
    derived from event_id are PACKED into genuine 24-byte format-5
    payloads (hex-assembled big-endian, sign-wrapped i16s — pure
    expressions, ``scanner.rs:17-28`` layout), then decoded by the
    production expression decoder (functions/ruuvi.py:decode_format5:
    substring → hex → conv → sign-extend → scale → clamp → round). The
    oracle computes the same fields ARITHMETICALLY, so a hash match
    proves the whole binary pack/unpack chain — byte order, sign
    extension, scale factors, clamp, rounding — is the identity on
    fields. Generated temperatures use even raw counts and humidities
    multiples of 4 so every scaled value lands exactly on the 2-dp
    grid: round() is then the identity on both engines (odd raws create
    .xx5 decimal ties whose direction is engine-dependent — Spark
    rounds the shortest decimal repr, DuckDB the true binary value). The decode tree is what a 100 TB payload scan runs inside
    WholeStageCodegen next to the parquet reader."""
    ev = load(spark, sf_dir, "events").select("event_id")

    def u16hex(raw):  # wrap to u16, 4 hex chars big-endian
        return F.lpad(F.hex(F.pmod(raw, F.lit(65536))), 4, "0")

    e = F.col("event_id")
    payload_hex = F.concat(
        F.lit("05"),
        u16hex(F.pmod(e * 7, F.lit(2001)) * 2 - 2000),
        u16hex(F.pmod(e * 11, F.lit(10001)) * 4),
        u16hex(F.pmod(e * 13, F.lit(65536))),
        u16hex(F.pmod(e * 17, F.lit(4001)) - 2000),
        u16hex(F.pmod(e * 19, F.lit(4001)) - 2000),
        u16hex(F.pmod(e * 23, F.lit(4001)) - 2000),
        F.lit("0000"),  # bytes 13-14: battery/tx power (unused by decoder)
        F.lpad(F.hex(F.pmod(e, F.lit(256))), 2, "0"),  # byte 15: movement
        F.lit("0" * 16),  # bytes 16-23: sequence/MAC tail (unused)
    )
    payloads = ev.select("event_id", F.unhex(payload_hex).alias("payload"))
    valid = payloads.filter(rf.is_valid_format5(F.col("payload")))
    fields = rf.decode_format5(F.col("payload"))
    return valid.select(
        "event_id", *[expr.alias(name) for name, expr in fields.items()]
    )


@query(
    "ruuvi_validation_quarantine",
    oracle="""
SELECT CASE WHEN event_id % 10 = 0 THEN 'bad_length'
            WHEN event_id % 10 = 1 THEN 'bad_format'
            ELSE 'valid' END AS reject_reason,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY reject_reason
""",
)
def ruuvi_validation_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3's production shape: the validation predicate SPLITS the feed
    into valid rows and a quarantined reject stream with reasons,
    instead of silently dropping (the reference returns None and loses
    the evidence, ``scanner.rs:36-45``). Payloads are generated with a
    deterministic corruption pattern — every 10th truncated (bad
    length), every 10th+1 carrying format byte 0x04 — classified by the
    SAME predicate the pipeline filters on, and the per-reason counts
    are oracle-checked arithmetically. At 100 TB the reject stream is
    what monitoring and replay feed on."""
    ev = load(spark, sf_dir, "events").select("event_id")
    e = F.col("event_id")
    fmt_hex = F.when(F.pmod(e, F.lit(10)) == 1, F.lit("04")).otherwise(F.lit("05"))
    body = F.concat(
        fmt_hex,
        F.lpad(F.hex(F.pmod(e * 7, F.lit(65536))), 4, "0"),
        F.lit("0" * 42),  # remaining 21 bytes zeroed (total 24 bytes)
    )
    # every 10th payload truncated to 20 bytes (40 hex chars)
    payload_hex = F.when(
        F.pmod(e, F.lit(10)) == 0, F.substring(body, 1, 40)
    ).otherwise(body)
    payloads = ev.select("event_id", F.unhex(payload_hex).alias("payload"))
    reason = (
        F.when(F.length("payload") != rf.PAYLOAD_LEN, "bad_length")
        .when(rf.be_u8(F.col("payload"), 1) != rf.DATA_FORMAT, "bad_format")
        .otherwise("valid")
    )
    return payloads.select(reason.alias("reject_reason")).groupBy(
        "reject_reason"
    ).agg(F.count(F.lit(1)).alias("n"))
