"""Query registry — the single source of truth behind __spark_entry__.

Every operator from SURVEY.md §2 registers here with its Spark callable
and (when SQL-expressible) the equivalent DuckDB oracle SQL.  The
contract (SURVEY.md §0): never declare an operator before its oracle
formulation hash-matches locally at sf=0.01 (tools/check.py).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# queries/ modules that populate the registry on import.
_QUERY_MODULES = (
    "cobradb_spark.queries.flagship",
    "cobradb_spark.queries.scans",
    "cobradb_spark.queries.filters",
    "cobradb_spark.queries.joins",
    "cobradb_spark.queries.aggregates",
    "cobradb_spark.queries.windows",
    "cobradb_spark.queries.sorts",
    "cobradb_spark.queries.setops",
    "cobradb_spark.queries.scalars",
    "cobradb_spark.queries.streaming",
    "cobradb_spark.queries.llm",
    "cobradb_spark.queries.textops",
    "cobradb_spark.queries.multimodal",
    "cobradb_spark.queries.udfs",
    "cobradb_spark.queries.etl",
    "cobradb_spark.queries.reshape",
    "cobradb_spark.queries.mlprep",
    "cobradb_spark.queries.sketches",
    "cobradb_spark.queries.analytics",
    "cobradb_spark.queries.rollups",
    "cobradb_spark.queries.layout",
    "cobradb_spark.queries.graph",
    "cobradb_spark.queries.geo",
    "cobradb_spark.queries.pipeline",
)


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}
_LOADED = False


def register(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


# The correctness driver hash-checks the FIRST 50 entries of
# query_map() in iteration order, so this tuple's order is part of the
# verification contract: all_queries() puts these keys first.  Keys
# whose code changed since their latest driver row come first, then
# the keys with the oldest driver evidence.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # rewritten; latest driver row predates the new code
    "analytics_bootstrap_ci", "agg_approx_distinct", "dedup_exactsubstr_cut",
    "dedup_span_excise", "graph_hits_scores", "graph_bfs_levels",
    "graph_sssp_weighted", "graph_connected_components", "dedup_cluster_cc",
    "geo_dbscan_grid", "dedup_near_cluster_keep_best",
    "graph_label_propagation", "graph_modularity_score", "graph_kcore_peel",
    # oldest latest driver row first (CORRECTNESS_r05, then _r06 keys
    # in registry order)
    "udf_map_in_arrow", "udf_sql_declarative", "udtf_polymorphic_analyze",
    "win_cume_dist", "win_ewma_smooth", "win_islands_ranges",
    "win_running_distinct", "sql_forecast_revenue_q6",
    "sql_volume_shipping_q7", "sql_market_share_q8", "sql_product_profit_q9",
    "sql_promo_revenue_q14", "sql_parts_supplier_count_q16",
    "sql_discount_revenue_or_q19", "sql_potential_promotion_q20",
    "sql_shipmode_priority_q12", "etl_schema_evolution_merge",
    "scan_gzip_jsonl", "agg_skew_salted_distinct", "multimodal_jpeg_decode",
    "multimodal_png_decode", "etl_model_load", "etl_cdc_apply",
    "etl_backfill_partition", "etl_compact_small_files",
    "etl_incremental_join_refresh", "etl_snapshot_diff", "etl_fk_containment",
    "etl_cascade_delete_plan", "rollup_gapfill", "etl_scd2_history",
    "sample_hash_deterministic", "sample_stratified", "split_train_test",
    "profile_table", "etl_shard_balanced",
)


def all_queries() -> dict[str, Query]:
    _load()
    missing = [n for n in _DRIVER_PRIORITY if n not in _REGISTRY]
    if missing:
        raise KeyError(f"_DRIVER_PRIORITY names not registered: {missing}")
    ordered = {n: _REGISTRY[n] for n in _DRIVER_PRIORITY}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def get_query(name: str) -> Query:
    _load()
    return _REGISTRY[name]


def query_map() -> dict[str, QueryFn]:
    """name -> callable, shaped for __spark_entry__.queries()."""
    return {name: q.fn for name, q in all_queries().items()}


def oracle_map() -> dict[str, str]:
    """name -> DuckDB SQL, shaped for __spark_entry__.oracle_sql()."""
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
