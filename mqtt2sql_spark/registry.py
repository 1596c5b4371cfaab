"""Aggregate query registry — importing this module registers all plans."""

from __future__ import annotations

import importlib

from mqtt2sql_spark.plans.base import REGISTRY, QuerySpec

_PLAN_MODULES = (
    "mqtt2sql_spark.plans.core",
    "mqtt2sql_spark.plans.analytics",
    "mqtt2sql_spark.plans.dedup",
    "mqtt2sql_spark.plans.similarity",
    "mqtt2sql_spark.plans.text",
    "mqtt2sql_spark.plans.timeseries",
    "mqtt2sql_spark.plans.sketches",
    "mqtt2sql_spark.plans.multimodal",
    "mqtt2sql_spark.plans.mixing",
)


def _load() -> None:
    for mod in _PLAN_MODULES:
        importlib.import_module(mod)


_load()

# Explicit presentation order. The driver's correctness gate samples queries
# in registration order with a bounded window (r01/r02 each recorded exactly
# the first 50), so the inventory is ordered by evidence value: the SURVEY
# §2 core pipeline first (inside EVERY window), then every query with no
# driver-green CORRECTNESS row in ANY round yet, then queries added this
# round, then backfill with the oldest-witnessed analytics (green in
# CORRECTNESS_r01 only). Names absent from this tuple keep their
# registration order after it.
_PRIORITY: tuple[str, ...] = (
    "scan_events",
    "filter_exclude_topic",
    "filter_topic_wildcard",
    "project_message",
    "upsert_latest_per_topic",
    "assign_topic_ids",
    "history_enable_routing",
    "history_append_all",
    "history_diffonly",
    "history_view_join",
    "tz_render",
    "hex_roundtrip",
    "flip_history_flag",
    "generalization_ladder_kanon",
    "median_of_medians_error",
    "diversified_top_parts",
    "part_substitution_candidates",
    "order_value_percentile_trend",
    "brand_return_pchart",
    "spearman_activity_value",
    "kendall_tau_nation_ranks",
    "order_total_reconciliation",
    "shapley_channel_attribution",
    "recsys_catalog_coverage",
    "eoq_by_brand",
    "abc_xyz_policy_matrix",
    "order_value_anova_dow",
    "supplier_share_shift",
    "revenue_cvar_daily",
    "lines_per_order_histogram",
    "supplier_latency_trend_census",
    "negative_leadtime_audit",
    "part_name_token_revenue",
    "monthly_revenue_day_concentration",
    "cube_region_segment",
    "brand_continuity_rate",
    "cadence_acceleration_census",
    "median_jackknife_spread",
    "part_supplier_redundancy",
    "part_geographic_reach",
    "return_rate_by_part_age",
    "dose_response_conversion",
    "laspeyres_paasche_index",
    "first_touch_retention",
    "price_stickiness_census",
    "discount_return_association",
    "supplier_load_latency_corr",
    "lsh_band_sensitivity",
    "dup_cluster_size_histogram",
    "ks_statistic_click_purchase",
)
# window note: _PRIORITY is sized to exactly 50 (the driver gate's window):
# core 13 + 36 never-witnessed (zero reds at r07; oldest-registered first,
# with the two never-witnessed r08 rewrites lsh_band_sensitivity /
# dup_cluster_size_histogram pulled forward) + 1 re-witness
# (ks_statistic_click_purchase, whose argmax arithmetic was widened to
# DECIMAL(38,0) this round — the r07 verdict asked for a driver witness
# of the widened plan).  297 never-witnessed queue after.  Regenerate
# each round with `python tools/rotation_plan.py 50` after the new
# CORRECTNESS_r*.json lands.


def all_specs() -> dict[str, QuerySpec]:
    specs = REGISTRY.specs()
    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY:
        if name in specs:
            ordered[name] = specs[name]
    for name, spec in specs.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
