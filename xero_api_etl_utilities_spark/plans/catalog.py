"""Central query/oracle catalog.

Each plans module contributes named (spark, sf_dir) -> DataFrame
builders plus their DuckDB oracle SQL. This module merges them into
the two dicts the driver contract (__spark_entry__.py) expects.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from xero_api_etl_utilities_spark.plans import flagship

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str | Callable[[], str]] = {}

# The driver's correctness record covers only the FIRST 50 entries of
# queries(), so these names, the r16 record's window, are emitted first;
# every other query follows in registration order.
_WINDOW_PRIORITY: list[str] = [
    "dedup_store_asof",
    "quality_swap_gate",
    "dedup_catalog_compact",
    "similarity_index_absorb",
    "similarity_index_expire",
    "dedup_catalog_persisted",
    "text_quality_drift",
    "text_quality_classifier",
    "text_quality_calibration",
    "agg_all_balanced",
    "agg_balance_check",
    "agg_conditional_sums",
    "agg_cube",
    "agg_percentiles",
    "agg_revenue_concentration",
    "agg_rollup",
    "agg_string_receipts",
    "daily_pnl_rollup",
    "diag_quality_deciles_dist",
    "dim_join_enrich",
    "events_tumbling",
    "join_asof",
    "join_cardinality_violations",
    "join_exactly_one",
    "join_range_intransit",
    "orders_cohort_ltv",
    "part_pareto_frontier",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "reconcile_matched",
    "reconcile_unverified",
    "scalar_date_pack",
    "scalar_null_conditional_pack",
    "scalar_string_pack",
    "scan_project_filter",
    "text_zipf_slope",
    "window_lag_lead",
    "window_moving_frame",
    "window_rank_topk",
    "window_segmentation",
    "dedup_verified_pairs",
    "dedup_containment",
    "dedup_embedding_cosine",
    "decontaminate_span_emit",
    "text_span_dedup_emit",
    "pipeline_corpus_publish",
    "merge_cdc_snapshot",
    "cluster_assign",
]


def _window_ordered(d: dict) -> dict:
    """Priority names first (in listed order), then registration order."""
    head = {k: d[k] for k in _WINDOW_PRIORITY if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def oracle_sf_dir() -> str:
    """The data directory that data-dependent oracle SQL is generated
    from (centroids, corpus statistics, trained weights).  Read on every
    call: a harness may set the variable after importing this module."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def register(
    name: str, fn: QueryFn, oracle: str | Callable[[], str] | None = None
) -> None:
    """``oracle`` may be a SQL string or a zero-arg callable returning
    one — callables defer data-dependent oracle generation (e.g. the
    IVF oracle inlines centroids trained from the sf0.01 parquet) to
    ``oracle_sql()`` time, keeping ``queries()`` import cheap for
    consumers like bench that never read oracles."""
    if name in _QUERIES:
        raise ValueError(f"duplicate query name {name!r}")
    _QUERIES[name] = fn
    if oracle is not None:
        _ORACLES[name] = oracle


register("daily_pnl_rollup", flagship.daily_pnl_rollup, flagship.FLAGSHIP_ORACLE)


def _load_extra_modules() -> None:
    """Import catalog-contributing modules (they call register())."""
    from xero_api_etl_utilities_spark.plans import (  # noqa: F401
        relational,
        extensions,
        windows_extra,
        tpch_like,
        corpus_ops,
        analytics_extra,
        scale_ops,
        training_ops,
        cdc_ops,
        retrieval_quality,
        graph_ops,
        mining_ops,
        corpus_extra,
        corpus_wave7,
        wave9,
        wave10,
        wave11,
        wave12,
        wave13,
        wave14,
        wave15,
    )


_loaded = False


def _ensure_loaded() -> None:
    global _loaded
    if not _loaded:
        _load_extra_modules()
        _loaded = True


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return _window_ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    out: dict[str, str] = {}
    for name, o in _ORACLES.items():
        if callable(o):
            o = o()
            _ORACLES[name] = o  # cache the generated SQL
        out[name] = o
    return _window_ordered(out)
