"""Registry contract tests: every query runs and returns rows with a
stable schema at sf0.001, the driver contract exposes matching
queries()/oracle_sql() keys, and the full DuckDB differential passes at
sf0.001 (the sf0.01 differential is tools/verify_local.py)."""

from __future__ import annotations

import hashlib

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


# The driver's correctness harness samples the first 50 registry entries in
# insertion order, so moving or merging plan code must not reorder them.
FIRST_50 = (
    "ruuvi_flagship", "ruuvi_window_means", "ruuvi_movement_delta",
    "ruuvi_dedup_last_wins", "ruuvi_validate_clamp_round",
    "ruuvi_registry_semi_join", "ruuvi_sensor_output", "ruuvi_movement_output",
    "ruuvi_str_to_map_config", "ruuvi_movement_delta_pandas",
    "ruuvi_binary_roundtrip", "ruuvi_validation_quarantine",
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "join_left_outer_enrich", "join_anti_customers_without_orders",
    "join_semi_parts_ordered", "join_full_outer_nation_activity",
    "join_range_events_orders", "agg_rollup_region_nation",
    "agg_cube_flag_status", "agg_distinct_counts", "agg_approx_count_distinct",
    "agg_stats_moments", "window_topk_orders_per_customer",
    "window_rank_dense_rank", "window_lag_lead_event_gap", "window_rolling_avg",
    "sort_limit_top_orders", "set_ops_user_cohorts", "string_funcs_part",
    "datetime_funcs_orders", "math_funcs_lineitem", "json_funcs_events",
    "array_funcs_embeddings", "asof_purchase_last_view", "sessionize_events",
    "multimodal_binary_features", "sliding_window_user_value",
    "multimodal_frame_sample", "timeseries_gap_fill", "multimodal_resize",
    "multimodal_audio_stats", "timeseries_seasonal_decompose",
    "timeseries_holt_winters", "streaming_windowed_means",
    "streaming_dedup_counts", "streaming_stateful_monitor",
    "streaming_ruuvi_flagship",
)
ORDER_SHA256 = "18551a7f4b5011bdd0cad63352e2a78a6e2f623d257bd6c2fca3e8a0e3517e1b"


def test_registry_order_is_pinned():
    names = list(REGISTRY)
    assert tuple(names[:50]) == FIRST_50
    assert len(names) == 293
    assert hashlib.sha256("\n".join(names).encode()).hexdigest() == ORDER_SHA256
