"""Registry contract tests: every query runs and returns rows with a
stable schema at sf0.001, the driver contract exposes matching
queries()/oracle_sql() keys, and the full DuckDB differential passes at
sf0.001 (the sf0.01 differential is tools/verify_local.py)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from rust_ruuvitag_etl_spark.plans import REGISTRY
from tools.verify_local import TABLES, compare

from .conftest import SF_SMALL


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "user_id", "window_start", "avg_value", "samples", "movement_delta", "name",
    }


def test_contract_keys_align():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) == len(REGISTRY)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, name):
    df = REGISTRY[name].fn(spark, SF_SMALL)
    assert df.count() >= 0
    assert len(df.columns) > 0


@pytest.mark.parametrize(
    "name", sorted(n for n, q in REGISTRY.items() if q.production)
)
def test_production_builder_runs(spark, name):
    """The builders the bench times (not the oracle-gated ones) build
    and execute too."""
    df = REGISTRY[name].production(spark, SF_SMALL)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_full_differential_sf0001(spark):
    """Every oracle-paired query matches DuckDB exactly at sf0.001."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    failures = []
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        sdf = q.fn(spark, SF_SMALL).toPandas()
        ddf = con.execute(q.oracle).fetchdf()
        problems = compare(name, sdf, ddf)
        if problems:
            failures.append((name, problems[:2]))
    assert not failures, failures
