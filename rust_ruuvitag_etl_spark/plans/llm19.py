"""Round-10 wave 4 — sequential drift control, multi-rater agreement,
and decayed multi-touch attribution:

* CUSUM control chart (`timeseries_cusum_alarm`): the classical
  sequential change detector, computed in CLOSED FORM — the clamped
  recurrence S_t = max(0, S_{t-1} + x_t - k) equals P_t - min_{j<=t}
  P_j for the prefix sums P of (x - k), so two shared-shuffle window
  passes replace the unparallelizable fold;
* Fleiss' kappa (`eval_fleiss_kappa`): chance-corrected agreement of
  THREE independent heuristic raters bucketing every document into
  low/med/high quality — the multi-annotator generalization of the
  registry's Cohen's kappa;
* time-decay attribution (`attribution_time_decay`): the
  attribution_linear_touch plan with the constant 1/n credit swapped
  for power-of-two decay weights (the swap its docstring promises) —
  weights stay EXACT integers (128 >> age_days), so credit splitting
  is integer cross-multiplication with one half-up micro division.

Float discipline: identical to waves 1-3 — exact integer/DECIMAL
accumulation; final ratios either round half-up in integer micro-units
or ship as un-rounded doubles from identical op sequences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..sources import load
from .analytics2 import TOUCH_CTES, touch_pairs
from .registry import query

# --- CUSUM control chart -------------------------------------------------------

# Allowance k = the series mean. Multiplying the recurrence through by
# n keeps everything integer: Q_t = n*P_t - t*S (P = prefix sum of
# value-cents, S = series total, n = series length) and the clamped
# CUSUM is n*S_t = Q_t - min_{j<=t} Q_j >= 0. Alarm when the cumulated
# excess over the mean exceeds 20% of the series' total value:
# 5 * cusum > n * S. ALL n^2-scaled products — qv itself, not just the
# alarm comparison — compute in 38-digit integers (Spark DECIMAL(38,0),
# DuckDB HUGEINT): qv ~ avg_cents * n^2 per series wraps int64 around
# ~1e8 events/series, where Spark wraps SILENTLY while DuckDB raises.
# 38 digits push the bound past 1e16 events per series.
_CUSUM_ORACLE = """
WITH e AS (
    SELECT event_type, ts, event_id,
           CAST(ROUND(value * 100) AS BIGINT) AS v100
    FROM events WHERE value IS NOT NULL
),
tot AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v100) AS BIGINT) AS s
    FROM e GROUP BY event_type
),
w AS (
    SELECT e.event_type, tot.n, tot.s,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.event_type
                ORDER BY e.ts, e.event_id) AS BIGINT) AS rn,
           CAST(SUM(e.v100) OVER (PARTITION BY e.event_type
                ORDER BY e.ts, e.event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
    FROM e JOIN tot USING (event_type)
),
q AS (
    SELECT event_type, n, s, rn,
           CAST(n AS HUGEINT) * p - CAST(rn AS HUGEINT) * s AS qv
    FROM w
),
c AS (
    SELECT event_type, n, s, rn,
           qv - LEAST(0, MIN(qv) OVER (PARTITION BY event_type ORDER BY rn
                                       ROWS UNBOUNDED PRECEDING)) AS cusum
    FROM q
)
SELECT event_type, n AS n_events, s AS total_cents,
       CAST(MAX(cusum) AS BIGINT) AS max_cusum_scaled,
       CAST(SUM(CASE WHEN cusum * 5 > CAST(n AS HUGEINT) * s
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       MIN(CASE WHEN cusum * 5 > CAST(n AS HUGEINT) * s
                THEN rn END) AS first_alarm_rn,
       BOOL_OR(cusum * 5 > CAST(n AS HUGEINT) * s) AS alarmed
FROM c GROUP BY event_type, n, s
"""


@query("timeseries_cusum_alarm", oracle=_CUSUM_ORACLE)
def timeseries_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM (cumulative-sum) control chart per event-type series: the
    classical sequential detector for sustained upward drift in event
    value, with the allowance set to the series mean and an alarm when
    the cumulated excess tops 20% of the series' total value. The
    clamped recurrence S_t = max(0, S_{t-1} + x_t - mean) is
    UNPARALLELIZABLE as written; this plan computes it in closed form
    as Q_t - running_min(Q) over the mean-centered prefix sums (both
    windows share one (type, ts) shuffle), scaled by n so every value
    stays an exact integer (see the module constant's comment).

    Exactness: integer end to end; the alarm inequality
    cross-multiplies in DECIMAL(38,0).

    Scale posture: the per-series window IS the operator's semantics
    (a control chart is a sequential scan of its own series); series
    count = |event types|, each window partition one series. At true
    scale the chart runs per (type, day-range) shard with carried-in
    offsets — same closed form."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v100"),
    )
    tot = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v100").cast("long").alias("s"),
    )
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w = e.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "n",
        "s",
        F.row_number().over(wo).cast("long").alias("rn"),
        F.sum("v100").over(wr).cast("long").alias("p"),
    )
    # qv in DECIMAL(38,0) (oracle: HUGEINT): n*p grows ~avg_cents*n^2
    # per series and would wrap int64 silently around ~1e8 events.
    q = w.select(
        "event_type",
        "n",
        "s",
        "rn",
        (
            F.col("n").cast("decimal(38,0)") * F.col("p")
            - F.col("rn").cast("decimal(38,0)") * F.col("s")
        ).alias("qv"),
    )
    wmin = Window.partitionBy("event_type").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # The running min must include the EMPTY prefix (Q_0 = 0), or the
    # closed form diverges from the clamped recurrence whenever the
    # series starts above the allowance (all-positive Q prefix).
    c = q.select(
        "event_type",
        "n",
        "s",
        "rn",
        (
            F.col("qv")
            - F.least(F.lit(0).cast("long"), F.min("qv").over(wmin))
        ).alias("cusum"),
    )
    alarm = (
        F.col("cusum").cast("decimal(38,0)") * 5
        > F.col("n").cast("decimal(38,0)") * F.col("s")
    )
    return c.groupBy(
        "event_type",
        F.col("n").alias("n_events"),
        F.col("s").alias("total_cents"),
    ).agg(
        F.max("cusum").cast("long").alias("max_cusum_scaled"),
        F.sum(F.when(alarm, 1).otherwise(0))
        .cast("long")
        .alias("n_alarms"),
        F.min(F.when(alarm, F.col("rn"))).alias("first_alarm_rn"),
        F.max(alarm).alias("alarmed"),
    )


# --- Fleiss' kappa (three heuristic raters) -------------------------------------

# Three INDEPENDENT scan-local "annotators" bucket each document into
# {0: low, 1: med, 2: high}: rater A by the composite quality score,
# rater B by mean token length (the readability proxy), rater C by
# stopword ratio (the fluency proxy). Thresholds compare doubles that
# both engines derive from identical integer counts, so category
# assignment is engine-identical.
_FLEISS_RATERS_SQL = """
SELECT doc_id,
       CASE WHEN q >= 0.8 THEN 2 WHEN q >= 0.5 THEN 1 ELSE 0 END AS r1,
       CASE WHEN tl >= 3.0 AND tl <= 10.0 THEN 2
            WHEN tl >= 2.0 AND tl <= 12.0 THEN 1 ELSE 0 END AS r2,
       CASE WHEN sr >= 0.25 THEN 2 WHEN sr >= 0.1 THEN 1 ELSE 0 END AS r3
FROM (
    SELECT doc_id,
           ROUND((
             CASE WHEN (CASE WHEN len(ltoks) = 0 THEN 0.0
                        ELSE CAST(list_sum(list_transform(ltoks,
                             x -> LENGTH(x))) AS DOUBLE) / len(ltoks) END)
                  BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END
             + LEAST(GREATEST((CASE WHEN len(ltoks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(ltoks, x -> x IN
                      ('the','a','an','and','or','of','to','in','is','it')))
                      AS DOUBLE) / len(ltoks) END) * 4.0, 0.0), 1.0)
             + 1.0 - LEAST(GREATEST((CASE WHEN nc = 0 THEN 0.0
                  ELSE CAST(np AS DOUBLE) / nc END) * 4.0, 0.0), 1.0)
           ) / 3.0, 4) AS q,
           CASE WHEN len(ltoks) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(ltoks, x -> LENGTH(x)))
                     AS DOUBLE) / len(ltoks) END AS tl,
           CASE WHEN len(ltoks) = 0 THEN 0.0
                ELSE CAST(len(list_filter(ltoks, x -> x IN
                    ('the','a','an','and','or','of','to','in','is','it')))
                    AS DOUBLE) / len(ltoks) END AS sr
    FROM (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS ltoks,
               LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS np,
               LENGTH(text) AS nc
        FROM documents
    )
)
"""

_FLEISS_ORACLE = f"""
WITH raters AS ({_FLEISS_RATERS_SQL}),
cell AS (
    SELECT doc_id,
           (CASE WHEN r1 = 0 THEN 1 ELSE 0 END
            + CASE WHEN r2 = 0 THEN 1 ELSE 0 END
            + CASE WHEN r3 = 0 THEN 1 ELSE 0 END) AS n0,
           (CASE WHEN r1 = 1 THEN 1 ELSE 0 END
            + CASE WHEN r2 = 1 THEN 1 ELSE 0 END
            + CASE WHEN r3 = 1 THEN 1 ELSE 0 END) AS n1,
           (CASE WHEN r1 = 2 THEN 1 ELSE 0 END
            + CASE WHEN r2 = 2 THEN 1 ELSE 0 END
            + CASE WHEN r3 = 2 THEN 1 ELSE 0 END) AS n2
    FROM raters
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(n0*n0 + n1*n1 + n2*n2) AS BIGINT) AS s_sq,
           CAST(SUM(n0) AS BIGINT) AS c0,
           CAST(SUM(n1) AS BIGINT) AS c1,
           CAST(SUM(n2) AS BIGINT) AS c2
    FROM cell
)
SELECT n_items, s_sq, c0, c1, c2,
       (CAST(s_sq AS DOUBLE) - 3 * CAST(n_items AS DOUBLE))
           / (6 * CAST(n_items AS DOUBLE)) AS p_bar,
       (CAST(c0 AS DOUBLE) * c0 + CAST(c1 AS DOUBLE) * c1
        + CAST(c2 AS DOUBLE) * c2)
           / (9 * CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE))
           AS p_e,
       CAST(CAST(3 AS DECIMAL(38,0)) * n_items * (s_sq - 3 * n_items)
            - 2 * (CAST(c0 AS DECIMAL(38,0)) * c0
                   + CAST(c1 AS DECIMAL(38,0)) * c1
                   + CAST(c2 AS DECIMAL(38,0)) * c2) AS DOUBLE)
       / CAST(2 * (CAST(9 AS DECIMAL(38,0)) * n_items * n_items
                   - (CAST(c0 AS DECIMAL(38,0)) * c0
                      + CAST(c1 AS DECIMAL(38,0)) * c1
                      + CAST(c2 AS DECIMAL(38,0)) * c2)) AS DOUBLE)
           AS kappa
FROM agg
"""


@query("eval_fleiss_kappa", oracle=_FLEISS_ORACLE)
def eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over THREE independent heuristic quality raters
    (composite score, mean-token-length, stopword-ratio — each
    bucketing every document into low/med/high): the multi-annotator
    agreement statistic run before trusting a labeling rubric, and the
    n-rater generalization of the registry's Cohen's kappa. kappa =
    (P_bar - P_e)/(1 - P_e) reduces to ONE division of exact
    DECIMAL(38,0) cross-products: numerator 3N(S - 3N) - 2*sum(c_j^2),
    denominator 2(9N^2 - sum(c_j^2)) — no int64 wrap past ~3e9 docs,
    no float until the final quotient (p_bar/p_e ship as identical-op
    doubles for the report).

    Scale posture: the raters and per-item category counts are
    scan-local expressions; the whole statistic is ONE map-side
    combinable aggregate row. Zero joins, zero corpus-sized
    shuffles."""
    from ..functions import text as tf

    docs = dd.spread(load(spark, sf_dir, "documents"))
    q = tf.quality_score(F.col("text"))
    tl = tf.mean_token_len(F.col("text"))
    sr = tf.stopword_ratio(F.col("text"))
    r1 = F.when(q >= 0.8, 2).when(q >= 0.5, 1).otherwise(0)
    r2 = (
        F.when((tl >= 3.0) & (tl <= 10.0), 2)
        .when((tl >= 2.0) & (tl <= 12.0), 1)
        .otherwise(0)
    )
    r3 = F.when(sr >= 0.25, 2).when(sr >= 0.1, 1).otherwise(0)

    def ncat(j: int) -> F.Column:
        return sum(
            F.when(r == j, 1).otherwise(0) for r in (r1, r2, r3)
        )

    cell = docs.select(
        ncat(0).alias("n0"), ncat(1).alias("n1"), ncat(2).alias("n2")
    )
    agg = cell.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(
            F.col("n0") * F.col("n0")
            + F.col("n1") * F.col("n1")
            + F.col("n2") * F.col("n2")
        )
        .cast("long")
        .alias("s_sq"),
        F.sum("n0").cast("long").alias("c0"),
        F.sum("n1").cast("long").alias("c1"),
        F.sum("n2").cast("long").alias("c2"),
    )
    n_d = F.col("n_items").cast("double")
    csq_d = (
        F.col("c0").cast("double") * F.col("c0")
        + F.col("c1").cast("double") * F.col("c1")
        + F.col("c2").cast("double") * F.col("c2")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    csq_dec = (
        dec("c0") * F.col("c0")
        + dec("c1") * F.col("c1")
        + dec("c2") * F.col("c2")
    )
    num = (
        F.lit(3).cast("decimal(38,0)")
        * F.col("n_items")
        * (F.col("s_sq") - 3 * F.col("n_items"))
        - 2 * csq_dec
    )
    den = 2 * (
        F.lit(9).cast("decimal(38,0)") * F.col("n_items") * F.col("n_items")
        - csq_dec
    )
    return agg.select(
        "n_items",
        "s_sq",
        "c0",
        "c1",
        "c2",
        (
            (F.col("s_sq").cast("double") - 3 * n_d) / (6 * n_d)
        ).alias("p_bar"),
        (csq_d / (9 * n_d * n_d)).alias("p_e"),
        (num.cast("double") / den.cast("double")).alias("kappa"),
    )


# --- time-decay multi-touch attribution -----------------------------------------

_DECAY_ATTR_ORACLE = f"""
{TOUCH_CTES},
joined AS (
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(ROUND(p.value * 100) AS BIGINT) AS v100,
           t.event_id AS touch_id, t.event_type AS touch_type,
           t.ts AS touch_ts,
           datediff('day', CAST(t.ts AS DATE), CAST(p.ts AS DATE)) AS age
    FROM purchases p JOIN touches t
      ON t.user_id = p.user_id
     AND t.ts < p.ts
     AND t.ts >= p.ts - INTERVAL 7 DAY
),
wgt AS (
    SELECT purchase_id, user_id, v100, touch_id, touch_type, touch_ts,
           CAST(128 >> LEAST(GREATEST(age, 0), 7) AS BIGINT) AS w
    FROM joined
),
den AS (
    SELECT purchase_id, CAST(SUM(w) AS BIGINT) AS sw,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM wgt GROUP BY purchase_id
)
SELECT w.purchase_id, w.user_id, w.touch_id, w.touch_type,
       CAST(ROW_NUMBER() OVER (PARTITION BY w.purchase_id
            ORDER BY w.touch_ts, w.touch_id) AS INTEGER) AS touch_rank,
       den.n_touches, w.w AS weight,
       CAST((w.v100 * w.w * 2000000 + den.sw * 100)
            // (2 * den.sw * 100) AS DOUBLE) / 1000000.0 AS credit
FROM wgt w JOIN den USING (purchase_id)
"""


@query("attribution_time_decay", oracle=_DECAY_ATTR_ORACLE)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY multi-touch attribution — the swap
    attribution_linear_touch's docstring promises: each touch in the
    7-day lookback gets weight 2^(7-age_days) (computed as the exact
    integer 128 >> age), so yesterday's click earns twice last week's
    view, and each purchase's value splits proportionally. Credit is
    integer cross-multiplication (value-cents x weight over the
    purchase's weight sum) rounded HALF-UP in micro-units with one
    exact division — no float until the final report value.

    Scale posture: identical to the linear twin — one user-keyed
    equi-join with the 7-day residual bounding per-purchase fan-out,
    per-purchase weight-sum and rank windows over the joined rows
    only."""
    joined = touch_pairs(
        load(spark, sf_dir, "events"),
        F.round(F.col("value") * 100).cast("long").alias("v100"),
    ).select(
        "purchase_id",
        "user_id",
        "v100",
        "touch_id",
        "touch_type",
        "touch_ts",
        F.datediff(
            F.col("ts").cast("date"), F.col("touch_ts").cast("date")
        ).alias("age"),
    )
    wgt = joined.select(
        "purchase_id",
        "user_id",
        "v100",
        "touch_id",
        "touch_type",
        "touch_ts",
        F.expr(
            "CAST(shiftright(128, CAST(LEAST(GREATEST(age, 0), 7) AS INT))"
            " AS BIGINT)"
        ).alias("w"),
    )
    wsum = Window.partitionBy("purchase_id")
    wrank = Window.partitionBy("purchase_id").orderBy(
        "touch_ts", "touch_id"
    )
    ranked = wgt.select(
        "purchase_id",
        "user_id",
        "touch_id",
        "touch_type",
        F.row_number().over(wrank).cast("int").alias("touch_rank"),
        F.count(F.lit(1)).over(wsum).cast("long").alias("n_touches"),
        F.col("w").alias("weight"),
        F.sum("w").over(wsum).cast("long").alias("sw"),
        "v100",
    )
    return ranked.select(
        "purchase_id",
        "user_id",
        "touch_id",
        "touch_type",
        "touch_rank",
        "n_touches",
        "weight",
        (
            F.expr(
                "CAST((v100 * weight * 2000000 + sw * 100)"
                " DIV (2 * sw * 100) AS DOUBLE)"
            )
            / F.lit(1000000.0)
        ).alias("credit"),
    )
