"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's window state is a per-sensor ``Vec<RuuviData>`` that the
main loop folds into an aggregate at interval close
(``/root/reference/src/main.rs:72,97-102`` → ``utils.rs:37-95``). The
built-in windowed aggregation (pipeline.windowed_averages_stream) covers
that; this module is the escape hatch for state machines the built-ins
can't express — here, a *cumulative per-sensor monitor* that carries
running count / running mean / last movement counter ACROSS micro-batches
and emits one updated row per sensor per batch (the reference resets
state every 30 min; a monitor must not).

Scale posture: state lives in the state store keyed by sensor — shuffled
once per micro-batch on the group key, Arrow-batched into pandas. State
size is O(distinct sensors) × a few scalars; a watermark-driven timeout
(``GroupStateTimeout``) would bound it under key churn.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MONITOR_SCHEMA = StructType(
    [
        StructField("sensor_mac", StringType()),
        StructField("total_readings", LongType()),
        StructField("running_mean_temp", DoubleType()),
        StructField("last_movement_counter", IntegerType()),
        StructField("movement_total", LongType()),
    ]
)

# state tuple: (count, sum_cents, last_mc, movement_total).
# Temperatures accumulate as integer CENTS, not a float sum: exact,
# associative, immune to accumulation-order drift across micro-batches —
# and therefore exactly reproducible by a batch SQL oracle (readings are
# 2-dp decimals; a double sum would make the running mean depend on
# batch boundaries).
STATE_SCHEMA = "count LONG, sum_cents LONG, last_mc INTEGER, movement_total LONG"


def _monitor(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's readings into the carried state and emit
    the updated per-sensor row. The wrapping movement-counter delta
    (``utils.rs:64-71``) accumulates across batches: each consecutive
    pair contributes ``(cur - prev) mod 256``."""
    if state.exists:
        count, sum_cents, last_mc, movement_total = state.get
    else:
        count, sum_cents, last_mc, movement_total = 0, 0, None, 0
    for pdf in pdfs:
        # Stable sort with an id tie-break when available: rows with
        # equal timestamps must fold in a deterministic order or the
        # movement accumulation (and any differential oracle) drifts.
        order = [c for c in ("ts", "event_id") if c in pdf.columns]
        pdf = pdf.sort_values(order, kind="mergesort")
        count += len(pdf)
        # Round each ROW to cents before summing: summing floats first
        # and rounding the batch total once would let float error (or a
        # shifted batch boundary) move the total by a cent on large
        # batches — per-row rounding keeps the accumulation exact
        # integer math regardless of batch size or boundaries.
        sum_cents += int(
            pdf["temperature"].mul(100).round().astype("int64").sum()
        )
        for mc in pdf["movement_counter"]:
            mc = int(mc)
            if last_mc is not None:
                movement_total += (mc - last_mc) % 256
            last_mc = mc
    state.update((count, sum_cents, last_mc, movement_total))
    # One IEEE division of exact integers → bit-identical in any engine.
    mean = sum_cents / (100.0 * count) if count else None
    yield pd.DataFrame(
        {
            "sensor_mac": [key[0]],
            "total_readings": [count],
            "running_mean_temp": [mean],
            "last_movement_counter": [last_mc],
            "movement_total": [movement_total],
        }
    )


def sensor_monitor_stream(readings: DataFrame) -> DataFrame:
    """Cumulative per-sensor monitor over a readings stream. Output mode
    must be ``update`` (one refreshed row per sensor per micro-batch)."""
    return readings.groupBy("sensor_mac").applyInPandasWithState(
        _monitor,
        outputStructType=MONITOR_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming EWMA -------------------------------------------------------

EWMA_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("ewma_num", LongType()),
        StructField("ewma_den", LongType()),
    ]
)

# state: the up-to-7 most recent samples (most recent LAST) in exact
# integer micro-units (value quantized to 6dp like the batch twin's
# DECIMAL(18,6) cast), plus the (ts, event_id) high-water mark of the
# last folded row — the cross-batch ordering sentinel (see _ewma).
EWMA_STATE_SCHEMA = "vals ARRAY<LONG>, hwm_ts LONG, hwm_id LONG"

_EWMA_W = 8


def _quantize_micros(x: float) -> int:
    """Replicate Spark's double→DECIMAL(18,6) cast (shortest-repr then
    HALF_UP at 6dp) so the streaming path folds the SAME integers the
    batch plan does."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        (Decimal(repr(float(x))) * 1000000).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP
        )
    )


def _ewma(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key EWMA over the last 8 samples (decay 1/2, integer weights
    2^k): every arriving row emits its smoothed value; the carried
    state is just the 7 previous samples in micro-units — O(1) per key,
    exact across any micro-batch boundary.

    ENFORCED ordering sentinel: rows are sorted (ts, event_id) within
    the batch, and the state carries the high-water mark of the last
    folded row. A micro-batch whose earliest row precedes the mark
    would silently fold out of order (diverging from the batch LAG
    oracle), so it raises instead — loud failure over wrong answers;
    see :func:`ewma_stream` for the contract."""
    if state.exists:
        st = state.get
        prev: list[int] = list(st[0])
        hwm = (st[1], st[2]) if st[1] is not None else None
    else:
        prev = []
        hwm = None
    chunks = list(pdfs)
    if not chunks:
        # Reachable only when a timeout is configured (timed-out keys are
        # invoked with no data): carry state forward, emit nothing.
        if prev:
            state.update(
                (prev, hwm[0] if hwm else None, hwm[1] if hwm else None)
            )
        return
    pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
    order = [c for c in ("ts", "event_id") if c in pdf.columns]
    pdf = pdf.sort_values(order, kind="mergesort")

    def _okey(row) -> tuple[int, int]:
        ts = int(pd.Timestamp(row["ts"]).value) if "ts" in order else 0
        eid = int(row["event_id"]) if "event_id" in order else 0
        return ts, eid

    if order:
        batch_min = _okey(pdf.iloc[0])
        # <= not <: event_id is unique, so EQUALITY with the folded
        # high-water mark can only mean a replayed/duplicate row, which
        # would silently re-fold and diverge from the batch LAG oracle
        # (same strictness as the Holt-Winters twin's guard).
        if hwm is not None and batch_min <= hwm:
            raise ValueError(
                "ewma_stream ordering contract violated: micro-batch "
                f"starts at (ts_ns, event_id)={batch_min} but a prior "
                f"batch already folded through {hwm}; pre-sort the "
                "source per trigger or feed batches in (ts, event_id) "
                "order (see ewma_stream docstring)"
            )
        hwm = _okey(pdf.iloc[-1])
    out_num: list[int] = []
    out_den: list[int] = []
    for v in pdf["value"]:
        prev.append(_quantize_micros(v))
        if len(prev) > _EWMA_W:
            prev.pop(0)
        num = 0
        den = 0
        # most recent sample (last element) takes the largest weight
        for age, micros in enumerate(reversed(prev)):
            w = 2 ** (_EWMA_W - 1 - age)
            num += micros * w
            den += w
        out_num.append(num)
        out_den.append(den)
    state.update(
        (prev, hwm[0] if hwm else None, hwm[1] if hwm else None)
    )
    yield pd.DataFrame(
        {
            "event_id": pdf["event_id"].astype("int64"),
            "event_type": [key[0]] * len(pdf),
            "ewma_num": out_num,
            "ewma_den": out_den,
        }
    )


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming EWMA smoother: ``events`` needs (event_id, event_type,
    ts, value). Output mode ``append`` — one smoothed row per event.

    ORDERING CONTRACT (enforced): rows are sorted by (ts, event_id)
    WITHIN each micro-batch, and the per-key state carries the
    high-water mark of the last folded row — a later micro-batch whose
    earliest row precedes it RAISES instead of silently folding out of
    order. The batch LAG oracle (`plans/analytics2.py`
    timeseries_ewma_smooth) therefore matches every stream this
    operator accepts; the registry harness ships `events` as one
    parquet file = one availableNow micro-batch
    (`plans/streaming_batchck.py`), and a production deployment with
    multiple files / `maxFilesPerTrigger` must pre-sort the source per
    trigger (out-of-order feeds fail loudly, never diverge —
    tests/test_streaming.py plants one to pin this)."""
    return events.groupBy("event_type").applyInPandasWithState(
        _ewma,
        outputStructType=EWMA_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- running top-k -----------------------------------------------------------
# A per-key RUNNING TOP-K (here k=3 by value desc, event_id asc) carried
# across micro-batches — the "leaderboard" shape that a windowed
# aggregate can't express because the answer must be re-emittable after
# every batch while the candidate set is unbounded.
#
# Scale posture: state is O(k) rows per key (the fold keeps only the
# current top-k — a batch's non-qualifying rows are dropped before the
# state write); the only shuffle is the group key, once per micro-batch.

TOPK_K = 3

TOPK_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("rank", IntegerType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)


TOPK_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("vals", ArrayType(DoubleType())),
        StructField("n", LongType()),
    ]
)


def _topk_apwis(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """One key's micro-batch: merge the rows into the stored top-k
    candidates, sorted by (value desc, event_id asc) — the batch
    ROW_NUMBER oracle's exact tie-break — and re-emit the top-k with
    the running count."""
    if state.exists:
        ids, vals, n = state.get
        cand = list(zip((int(i) for i in ids), (float(v) for v in vals)))
    else:
        cand, n = [], 0
    for pdf in pdfs:
        n += len(pdf)
        cand.extend(
            zip(
                (int(x) for x in pdf["event_id"]),
                (float(x) for x in pdf["value"]),
            )
        )
    cand.sort(key=lambda t: (-t[1], t[0]))
    top = cand[:TOPK_K]
    state.update(([e for e, _ in top], [v for _, v in top], n))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(top),
            "rank": range(1, len(top) + 1),
            "event_id": [eid for eid, _ in top],
            "value": [v for _, v in top],
            "n_seen": [n] * len(top),
        }
    )


def topk_stream(events: DataFrame) -> DataFrame:
    """Streaming per-key top-k over ``applyInPandasWithState``.

    ``events`` needs (event_type, event_id, value), value non-null.
    Update mode: after each micro-batch every touched key re-emits its
    current top-k plus the running fold count ``n_seen`` — the final
    snapshot per key is the row set with the maximum ``n_seen`` (the
    same end-of-stream convention as sensor_monitor_stream).
    Determinism: candidates sort by (value desc, event_id asc), so ties
    resolve identically to the batch ROW_NUMBER oracle."""
    return events.groupBy("event_type").applyInPandasWithState(
        _topk_apwis,
        outputStructType=TOPK_SCHEMA,
        stateStructType=TOPK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming Holt-Winters (the forecasting twin) --------------------------
# The batch timeseries_holt_winters fold as a streaming stateful
# operator: per event_type, raw events bucket into hours inside the
# handler and each COMPLETED fold step emits (bucket_ts, actual micro
# units, one-step forecast). State = (level, trend, seasonal[24],
# last folded hour) — the quantize-then-integer-fold discipline of
# ewma_stream, so the batch recursive-CTE oracle reproduces every
# forecast bit-for-bit.

HW_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("bucket_ts", LongType()),  # epoch seconds of hour
        StructField("y", LongType()),
        StructField("fc", LongType()),
    ]
)

HW_STATE_SCHEMA = (
    "started BOOLEAN, level LONG, trend LONG, sea ARRAY<LONG>, hwm LONG"
)


def _hw_fold_one(
    level: int, trend: int, sea: list[int], y: int, first: bool
) -> tuple[int, int, list[int], int]:
    """One exact Holt-Winters step (alpha=beta=gamma=1/2, micro-units):
    returns (level', trend', sea', forecast_next). Mirrors the batch
    aggregate lambda in plans/timeseries.py expression for expression."""
    import math

    s24 = sea[0]
    if first:
        nl, nt = y, 0
    else:
        nl = math.floor((y - s24 + level + trend) / 2)
        nt = math.floor((nl - level + trend) / 2)
    snew = math.floor((y - nl + s24) / 2)
    sea2 = sea[1:] + [snew]
    return nl, nt, sea2, nl + nt + sea2[0]


def _hw_stream_fn(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        started, level, trend, sea, hwm = state.get
        sea = list(sea)
    else:
        started, level, trend, sea, hwm = False, 0, 0, [0] * 24, None
    chunks = [c for c in pdfs]
    if not chunks:
        state.update((started, level, trend, sea, hwm))
        return
    pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
    # SQL-SUM semantics: null values are skipped, not folded (the
    # int64 quantizer would raise on NaN where the oracle succeeds)
    pdf = pdf[pdf["value"].notna()]
    if not len(pdf):
        state.update((started, level, trend, sea, hwm))
        return
    # bucket to hours in exact micro-units
    hours = (
        pdf["ts"].dt.floor("h").astype("int64") // 1_000_000_000
    )
    # _quantize_micros replicates the batch twin's double->DECIMAL(18,6)
    # cast (shortest-repr HALF_UP); pandas .round() is banker's and
    # would diverge on an exact .5 tie at the 6th decimal.
    micros = pdf["value"].map(_quantize_micros).astype("int64")
    by_hour = (
        pd.DataFrame({"h": hours, "m": micros})
        .groupby("h", sort=True)["m"]
        .sum()
    )
    if hwm is not None and len(by_hour) and int(by_hour.index[0]) <= hwm:
        raise ValueError(
            "hw_stream ordering contract violated: micro-batch contains "
            f"hour {int(by_hour.index[0])} at or before the already-"
            f"folded hour {hwm}; feed whole hours in order (a split "
            "hour would fold a partial bucket and silently diverge "
            "from the batch oracle)"
        )
    out_h, out_y, out_fc = [], [], []
    for h, y in by_hour.items():
        level, trend, sea, fc = _hw_fold_one(
            level, trend, sea, int(y), not started
        )
        started = True
        hwm = int(h)
        out_h.append(int(h))
        out_y.append(int(y))
        out_fc.append(fc)
    state.update((started, level, trend, sea, hwm))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(out_h),
            "bucket_ts": out_h,
            "y": out_y,
            "fc": out_fc,
        }
    )


def hw_stream(events: DataFrame) -> DataFrame:
    """Streaming Holt-Winters forecaster: ``events`` needs
    (event_type, ts, value). Append mode — one row per COMPLETED
    hourly bucket with the next hour's forecast, integer micro-units.

    ORDERING CONTRACT (enforced, the ewma_stream discipline): each
    micro-batch must carry only WHOLE hours strictly after the state's
    folded high-water mark — a batch that re-opens a folded hour
    raises instead of silently folding a partial bucket. The registry
    harness ships events as one parquet file = one availableNow batch;
    multi-file sources must align file boundaries to hour boundaries
    (tests plant a violating split to pin the loud failure)."""
    return events.groupBy("event_type").applyInPandasWithState(
        _hw_stream_fn,
        outputStructType=HW_SCHEMA,
        stateStructType=HW_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming CUSUM control chart -------------------------------------------
# The batch twin (plans/llm19.py timeseries_cusum_alarm) self-calibrates
# its allowance to the series MEAN — a two-pass statistic a stream can't
# know upfront. The streaming chart therefore runs the textbook form:
# a KNOWN process target (allowance) and decision interval, folded by
# the exact clamped recurrence S <- max(0, S + x - k) in integer cents,
# one state tuple per series key, emitted per micro-batch in update
# mode. Constants chosen against the events corpus (mean value ~ $50):
# k = $40.00 keeps a persistent positive drift, H = $2000 of cumulated
# excess trips mid-series.
CUSUM_TARGET_CENTS = 4000
CUSUM_H_CENTS = 200_000

CUSUM_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("cusum", LongType()),
        StructField("max_cusum", LongType()),
        StructField("n_alarms", LongType()),
        StructField("first_alarm_rn", LongType()),
    ]
)

CUSUM_STATE_SCHEMA = (
    "n LONG, s LONG, mx LONG, alarms LONG, first_rn LONG,"
    " hwm_ts LONG, hwm_id LONG"
)


def _round_half_away_cents(v: float) -> int:
    """Round ``v * 100`` to integer cents with ties AWAY from zero —
    the semantics BOTH engines apply (DuckDB ``ROUND(value*100)`` is
    half-away on the binary product; Spark ``F.round`` is HALF_UP on
    the product's shortest decimal repr, and for any double a ``.5``
    tie in shortest repr IS an exact binary tie, so the two agree).
    Python's builtin ``round()`` is banker's (half-to-EVEN) and
    diverges on exact ties like 0.125 -> 12.5: both engines give 13,
    ``round()`` gives 12."""
    from decimal import ROUND_HALF_UP, Decimal

    prod = float(v) * 100.0  # the same IEEE multiply both engines do
    return int(
        Decimal(repr(prod)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
    )


def _cusum_fold(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Exact integer CUSUM fold with the ewma_stream ordering sentinel:
    rows sort (ts, event_id) within the batch; the state carries the
    high-water mark of the last folded row and raises on any batch that
    would fold at or before it (loud failure over silent divergence
    from the batch-window oracle)."""
    if state.exists:
        n, s, mx, alarms, first_rn, hts, hid = state.get
        hwm = (hts, hid) if hts is not None else None
    else:
        n = s = mx = alarms = 0
        first_rn = None
        hwm = None
    chunks = list(pdfs)
    if not chunks:
        if n:
            state.update(
                (n, s, mx, alarms, first_rn,
                 hwm[0] if hwm else None, hwm[1] if hwm else None)
            )
        return
    pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    batch_min = (int(pd.Timestamp(pdf.iloc[0]["ts"]).value),
                 int(pdf.iloc[0]["event_id"]))
    if hwm is not None and batch_min <= hwm:
        raise ValueError(
            "cusum_stream ordering contract violated: micro-batch "
            f"starts at (ts_ns, event_id)={batch_min} but a prior batch "
            f"already folded through {hwm}; feed batches in (ts, "
            "event_id) order (see cusum_stream docstring)"
        )
    hwm = (int(pd.Timestamp(pdf.iloc[-1]["ts"]).value),
           int(pdf.iloc[-1]["event_id"]))
    for v in pdf["value"]:
        n += 1
        s = max(0, s + _round_half_away_cents(v) - CUSUM_TARGET_CENTS)
        if s > mx:
            mx = s
        if s > CUSUM_H_CENTS:
            alarms += 1
            if first_rn is None:
                first_rn = n
    state.update((n, s, mx, alarms, first_rn, hwm[0], hwm[1]))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": [n],
            "cusum": [s],
            "max_cusum": [mx],
            "n_alarms": [alarms],
            "first_alarm_rn": [first_rn],
        }
    )


def cusum_stream(events: DataFrame) -> DataFrame:
    """Streaming CUSUM control chart per event_type: ``events`` needs
    (event_type, ts, event_id, value). Update mode — one refreshed
    summary row per series per micro-batch; the end-of-stream row (max
    n_events) is the chart's final answer, diffed against the batch
    closed-form oracle (prefix-sum minus running-min including the
    empty prefix) in plans/streaming_batchck.py.

    ORDERING CONTRACT (enforced, the ewma_stream discipline): rows sort
    (ts, event_id) within each micro-batch and the state carries the
    folded high-water mark — an out-of-order or replayed batch raises
    instead of silently diverging. State is five integers + the mark
    per key: O(|event types|) total, constant per key at any corpus
    size."""
    return events.groupBy("event_type").applyInPandasWithState(
        _cusum_fold,
        outputStructType=CUSUM_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
