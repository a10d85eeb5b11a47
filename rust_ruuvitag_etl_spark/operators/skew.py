"""Skew-resilient aggregation: explicit two-stage salted aggregation.

At 100 TB a handful of hot keys (one chatty sensor, one dominant
language) can make a single reducer partition take hours while the rest
finish in minutes. Two mitigations, in preference order:

1. **AQE skew handling** (``spark.sql.adaptive.skewJoin.enabled``,
   on in our session factory) — splits oversized join partitions at
   runtime. Zero code. Covers joins only.
2. **Salted two-stage aggregation** (this module) — for ``groupBy`` on a
   skewed key: append a salt to the key, partially aggregate over
   (key, salt) so the hot key's rows spread over N partitions, then
   re-aggregate over the key alone. Cost: a second (tiny) shuffle over
   at most ``distinct_keys × n_salts`` partially-aggregated rows.

Only *algebraic* aggregates (sum/count/min/max → and avg as sum÷count)
can be split this way; holistic ones (exact median) cannot.

The salt here is derived deterministically from a secondary column
rather than ``rand()`` so the plan stays reproducible (and resumable)
— any roughly-uniform column works; uniformity of the salt, not its
randomness, is what spreads the load.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sum_count(
    df: DataFrame,
    key: str,
    value: str,
    salt_from: str | Column,
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage salted ``groupBy(key).agg(sum(value), count(*))``.

    Stage 1 shuffles on (key, salt) — the hot key's rows land on
    ``n_salts`` reducers instead of one; stage 2 shuffles the
    ``≤ |keys| × n_salts`` partial rows on key alone. Equivalent to the
    direct aggregation (sum and count are algebraic); the equivalence is
    oracle-checked by the ``skew_salted_agg`` registry query.

    Returns columns: ``key``, ``sum_<value>``, ``n``.
    """
    salt_col = F.col(salt_from) if isinstance(salt_from, str) else salt_from
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(salt_col), F.lit(n_salts)))
    partial = salted.groupBy(key, "_salt").agg(
        F.sum(value).alias("_psum"),
        F.count(F.lit(1)).alias("_pn"),
    )
    return partial.groupBy(key).agg(
        F.sum("_psum").alias(f"sum_{value}"),
        F.sum("_pn").alias("n"),
    )


def salted_shuffle_join(
    big: DataFrame,
    medium: DataFrame,
    key: str,
    salt_from: str | Column,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof SHUFFLE join for when the other side is too big to
    broadcast: the big side salts its key (hot key's rows spread over
    ``n_salts`` reducers); the medium side replicates each row across
    ALL salts (an in-row sequence+explode — ``n_salts``× the medium
    side, never the big side); the join runs on (key, salt). Same rows
    as the plain join — oracle-checked by ``skew_salted_join``.

    Only ``inner``, ``left`` and ``left_semi`` are supported: the
    medium side is replicated per salt, so any join type that emits
    UNMATCHED medium-side rows (right/full outer) would emit them once
    per salt — ``n_salts`` duplicate null-extended rows. Raises for
    those. Prefer AQE skew-join splitting first; reach for this when
    the skew is known and stable (one chatty sensor) and you want a
    deterministic plan."""
    if how not in ("inner", "left", "left_outer", "left_semi", "semi"):
        raise ValueError(
            f"salted_shuffle_join supports inner/left/left_semi, not {how!r}: "
            "unmatched medium-side rows would duplicate once per salt"
        )
    salt_col = F.col(salt_from) if isinstance(salt_from, str) else salt_from
    b = big.withColumn("_salt", F.pmod(F.xxhash64(salt_col), F.lit(n_salts)))
    m = medium.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return b.join(m, [key, "_salt"], how).drop("_salt")
