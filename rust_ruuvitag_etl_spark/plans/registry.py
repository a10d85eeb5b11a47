"""Query registry: the driver-facing catalog behind ``__spark_entry__``.

Every implemented operator from SURVEY.md §2/§2.1 registers here as a
named query (a ``(spark, sf_dir) -> DataFrame`` builder) plus, when the
semantics are ANSI-SQL-expressible, a DuckDB oracle SQL string the
driver runs side-by-side (row count + schema + order-insensitive value
hash). Column names/aliases MUST match between the two sides.

A query whose registered builder carries a correctness twin (an exact
brute-force recall gate, or the oracle-reproducible ``portable`` hash
family) names its ``production`` builder here too: the plan a
deployment runs, which every timing harness measures
(``q.production or q.fn``). The driver contract exposes ``fn`` only.

Float discipline for oracle parity: aggregate in double, round at the
end, identically on both sides; integer sums are cast to BIGINT in the
oracle because DuckDB's SUM(integer) natively returns HUGEINT.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    doc: str = ""
    production: QueryFn | None = None  # timed path, when it differs from fn


REGISTRY: dict[str, Query] = {}


def query(
    name: str, oracle: str | None = None, production: QueryFn | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query builder (and optional oracle SQL and
    production builder)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "",
            production=production,
        )
        return fn

    return deco


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
