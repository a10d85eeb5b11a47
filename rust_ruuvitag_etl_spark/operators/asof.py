"""As-of (point-in-time) join — the time-series join the reference's
ordered first/last semantics (A3) generalize to (SURVEY.md §2.1).

Implementation: union the two sides, one shuffle on the key, and a
running ``last(..., ignorenulls)`` window fills each left row with the
most recent right row at-or-before its timestamp. This is the
scale-correct plan: ONE shuffle + ONE per-partition sort, no range
join explosion, no per-key driver loop; skewed keys are split by AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    right_value_cols: tuple[str, ...] = (),
    forward: bool = False,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` (backward as-of, inclusive), per key; with
    ``forward`` the EARLIEST right row with ``right.ts >= left.ts``
    instead — the next-event attribution direction (e.g. "first
    purchase at-or-after each view"). The forward fill walks timestamps
    DESCENDING, so the nearest following right row is the last non-null
    seen.

    Right rows should be unique per (key, ts) for deterministic output —
    pre-aggregate otherwise. Output: all left columns + each right value
    column renamed ``{col}_asof`` (``{col}_next`` forward), NULL when no
    right row qualifies.
    """
    suffix = "_next" if forward else "_asof"
    lcols = left.columns
    l_tagged = left.select(
        *lcols,
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}")
          for c in right_value_cols],
    )
    r_tagged = right.select(
        F.col(key),
        F.col(ts_col),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in (key, ts_col)],
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"{c}{suffix}") for c in right_value_cols],
    ).select(*lcols, "_side", *[f"{c}{suffix}" for c in right_value_cols])

    unioned = l_tagged.unionByName(r_tagged)
    # Right rows sort before left rows at equal timestamps → inclusive
    # (<= backward, >= forward) semantics, matching SQL ASOF JOIN.
    ts = F.col(ts_col).desc() if forward else F.col(ts_col)
    w = (
        Window.partitionBy(key)
        .orderBy(ts, F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        *lcols,
        "_side",
        *[
            F.last(f"{c}{suffix}", ignorenulls=True).over(w).alias(f"{c}{suffix}")
            for c in right_value_cols
        ],
    )
    return filled.filter(F.col("_side") == 1).drop("_side")
