"""Physical-plan audits: the plan shape IS the 100 TB design.

Asserts on .explain output that:
  * filters/projections reach the parquet scan (PushedFilters/ReadSchema);
  * dimension joins broadcast (no fact-side shuffle);
  * aggregations run partially before the shuffle (partial hash agg);
  * no row-at-a-time Python UDF appears in built-in operator plans.
"""

import pytest

from tests.conftest import SF_DIR


def _explain(df, mode: str) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _plan(df) -> str:
    return _explain(df, "simple")


def _formatted(df) -> str:
    return _explain(df, "formatted")


def test_scan_events_pushes_filter_and_prunes_columns(spark):
    from mqtt2sql_spark.plans.core import scan_events

    plan = _formatted(scan_events(spark, SF_DIR))
    assert "Not(EqualTo(event_type,error))" in plan  # filter reached the scan
    # the ts range predicate can't push (ts is derived from the ns→µs
    # conversion), but its IsNotNull guard still does
    assert "IsNotNull(ts)" in plan
    # column pruning: the read schema is exactly the projected columns
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "props" in read_schema and "user_id" in read_schema


def test_history_view_join_broadcasts_dimension(spark):
    from mqtt2sql_spark.plans.core import history_view_join

    plan = _plan(history_view_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_revenue_by_region_broadcasts_all_dims(spark):
    from mqtt2sql_spark.plans.analytics import revenue_by_region

    plan = _plan(revenue_by_region(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_pricing_summary_has_partial_aggregation(spark):
    from mqtt2sql_spark.plans.analytics import agg_pricing_summary

    plan = _plan(agg_pricing_summary(spark, SF_DIR))
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_semi_and_anti_joins_plan_as_joins_not_subqueries(spark):
    from mqtt2sql_spark.plans.analytics import (
        anti_join_customers_no_orders,
        semi_join_parts_ordered,
    )

    anti = _plan(anti_join_customers_no_orders(spark, SF_DIR))
    semi = _plan(semi_join_parts_ordered(spark, SF_DIR))
    assert "LeftAnti" in anti
    assert "LeftSemi" in semi


def test_no_python_udf_in_builtin_operator_plans(spark):
    from mqtt2sql_spark.plans.dedup import dedup_ngram_jaccard
    from mqtt2sql_spark.plans.similarity import ann_cosine_topk
    from mqtt2sql_spark.plans.text import text_quality

    for q in (text_quality, ann_cosine_topk, dedup_ngram_jaccard):
        plan = _plan(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, q.__name__
        assert "ArrowEvalPython" not in plan, q.__name__


def test_whole_stage_codegen_covers_scalar_pipelines(spark):
    from mqtt2sql_spark.plans.text import token_count

    plan = _plan(token_count(spark, SF_DIR))
    # '*(n)' prefixes mark whole-stage-codegen'd operators in simple mode
    assert "*(1) Project" in plan


def test_round2_operators_stay_jvm_side(spark):
    """The five round-2 operators are pure built-in expression pipelines:
    no Python eval nodes anywhere in their plans."""
    from mqtt2sql_spark.plans.dedup import decontaminate_overlap
    from mqtt2sql_spark.plans.similarity import ann_hamming_topk
    from mqtt2sql_spark.plans.text import (
        domain_mix_stats,
        repetition_filter,
        sample_stratified,
    )

    for q in (
        repetition_filter,
        sample_stratified,
        domain_mix_stats,
        decontaminate_overlap,
        ann_hamming_topk,
    ):
        plan = _plan(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, q.__name__
        assert "ArrowEvalPython" not in plan, q.__name__


def test_ann_hamming_broadcasts_query_codes(spark):
    """The query-code side is tiny (vec_id % 50): it must broadcast, and
    the candidate scan must reach the top-k window without a sort-merge
    join of the corpus against itself."""
    from mqtt2sql_spark.plans.similarity import ann_hamming_topk

    plan = _plan(ann_hamming_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_filter_partial_aggregates(spark):
    from mqtt2sql_spark.plans.text import repetition_filter

    plan = _plan(repetition_filter(spark, SF_DIR))
    assert "partial_count" in plan or "partial_sum" in plan


def test_repetition_filter_keeps_zero_token_docs(spark, tmp_path):
    """A punctuation-only document tokenizes to zero tokens; it must
    still appear in the output with n_tokens=0 (the oracle keeps it via
    LEFT JOIN — dropping it is a row-count parity failure)."""
    from mqtt2sql_spark.plans.text import repetition_filter

    df = spark.createDataFrame(
        [
            (1, "?!... ---", "en", "s", 9),
            (2, "plain words here again plain words", "en", "s", 34),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {r.doc_id: r for r in repetition_filter(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_tokens == 0
    assert out[1].top2_frac_fp == 0 and out[1].dup5_frac_fp == 0
    assert out[2].n_tokens == 6


def test_decontaminate_overlap_builds_postings_not_self_join(spark):
    """The corpus must never self-join row-by-row: candidate pairs come
    from exploded postings lists (one shuffle to group by shingle)."""
    from mqtt2sql_spark.plans.dedup import decontaminate_overlap

    plan = _plan(decontaminate_overlap(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan


def test_global_topk_uses_take_ordered_not_global_window(spark):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    k-row heap + driver merge), never a single-partition ranking window
    over the full aggregate."""
    from mqtt2sql_spark.plans.analytics import (
        large_orders_topk,
        shipping_priority_topk,
        topk_topics,
    )
    from mqtt2sql_spark.plans.text import word_bigrams_topk

    for fn in (topk_topics, shipping_priority_topk, large_orders_topk,
               word_bigrams_topk):
        plan = _plan(fn(spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, fn.__name__


def test_per_group_topk_pushes_rank_limit(spark):
    """Per-group top-k windows must carry the WindowGroupLimit rewrite
    (partial per-partition rank pruning before the shuffle)."""
    from mqtt2sql_spark.plans.similarity import ann_cosine_topk
    from mqtt2sql_spark.plans.text import tfidf_top_terms

    for fn in (ann_cosine_topk, tfidf_top_terms):
        plan = _plan(fn(spark, SF_DIR))
        assert "WindowGroupLimit" in plan, fn.__name__


# --- round-3 TPC-H / text operators ----------------------------------------


def test_part_value_share_single_fact_shuffle(spark):
    """Q11 shape: the per-part aggregate feeds BOTH the output and the
    global total — at runtime AQE must reuse the shuffle (ReusedExchange)
    so lineitem is scanned and partially aggregated exactly once, and the
    single-row total must broadcast, never sort-merge."""
    from mqtt2sql_spark.plans.analytics import part_value_share

    df = part_value_share(spark, SF_DIR)
    df.collect()  # AQE finalizes (and reuses) exchanges at runtime
    plan = _formatted(df)
    assert "ReusedExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_min_cost_supplier_uses_window_not_self_join(spark):
    """Q2 correlated-min decorrelates to ONE shuffle: a min window over
    l_partkey — not an aggregate + self-join (two scans of lineitem)."""
    from mqtt2sql_spark.plans.analytics import min_cost_supplier_per_part

    plan = _plan(min_cost_supplier_per_part(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
    assert "Window" in plan
    assert "SortMergeJoin" not in plan


def test_order_priority_exists_is_semi_join(spark):
    """EXISTS must plan as LeftSemi (one output row per order regardless
    of witness count), with the date range pushed to the orders scan."""
    from mqtt2sql_spark.plans.analytics import order_priority_exists_count

    plan = _plan(order_priority_exists_count(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_straggler_windows_share_one_exchange(spark):
    """Both window layers partition by l_orderkey: Catalyst must reuse a
    single exchange (one shuffle total after the groupBy)."""
    from mqtt2sql_spark.plans.analytics import straggler_supplier_per_order

    plan = _formatted(straggler_supplier_per_order(spark, SF_DIR))
    # exactly two shuffles: the (orderkey, suppkey) groupBy and ONE
    # orderkey exchange feeding both window layers
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert plan.count("Window") >= 2


def test_boilerplate_trigrams_topk_not_global_sort(spark):
    from mqtt2sql_spark.plans.text import boilerplate_trigrams

    plan = _plan(boilerplate_trigrams(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_bm25_stays_jvm_side_no_explode(spark):
    """Term frequencies are size(filter(tokens)) expressions: no Python
    eval, no Generate (explode) — the scan emits one row per document."""
    from mqtt2sql_spark.plans.text import keyword_bm25_topk

    plan = _plan(keyword_bm25_topk(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Generate" not in plan
    assert "TakeOrderedAndProject" in plan


def test_history_value_runs_single_topic_shuffle(spark):
    """lag window, running-sum window and the run rollup all key on
    topicid: one exchange serves all three."""
    from mqtt2sql_spark.plans.core import history_value_runs

    plan = _plan(history_value_runs(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(topicid") == 1


def test_history_retention_keeps_latest_per_silent_topic(spark):
    """Every topic present in history must survive retention (either via
    the window or as its keep-latest row)."""
    from mqtt2sql_spark.fixtures import mqtt_history
    from mqtt2sql_spark.plans.core import history_retention_prune

    before = {r.topicid for r in mqtt_history(spark, SF_DIR)
              .select("topicid").distinct().collect()}
    after_rows = history_retention_prune(spark, SF_DIR).collect()
    after = {r.topicid for r in after_rows}
    assert after == before
    # rows outside the window are exactly one per silent topic
    outside = [r for r in after_rows if r.in_window == 0]
    assert len(outside) == len({r.topicid for r in outside})


def test_disjunctive_ranges_push_to_scan(spark):
    """Q19 shape: the union of the per-branch quantity ranges must reach
    the lineitem parquet scan as a pushed min/max filter."""
    from mqtt2sql_spark.plans.analytics import disjunctive_filter_revenue

    plan = _formatted(disjunctive_filter_revenue(spark, SF_DIR))
    assert "GreaterThanOrEqual(l_quantity,1" in plan
    assert "LessThanOrEqual(l_quantity,35" in plan
    assert "SortMergeJoin" not in plan


def test_idle_customers_plans_anti_join_and_broadcast_scalar(spark):
    from mqtt2sql_spark.plans.analytics import idle_big_customers

    plan = _plan(idle_big_customers(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# --- partitioning invariance (determinism regression) ----------------------

# Queries whose history includes (or whose shape risks) partition-count
# sensitivity: dense id assignment, hash-shuffled training order,
# per-stratum caps, iterative kmeans, window tie-breaks.
_INVARIANCE_KEYS = [
    "assign_topic_ids",
    "training_order_assignment",
    "sample_stratified",
    "embedding_kmeans_assign",
    "hot_topics_heavy_hitters",
    "revenue_pareto_deciles",  # two-measure prefix sum over revenue bands
    "count_min_topic_freq",    # sketch cells must not depend on layout
    # global rank/prefix sum/prefix max windows and
    # distributed-top-k-then-rank shapes must stay layout-independent
    "spearman_activity_value",     # two global row_number ranks
    "user_value_concentration",    # DESC value-grain prefix + clamp
    "error_recovery_percentiles",  # value-at-rank via a running sum
    "watermark_delay_sweep",       # running max over the events fact
    "max_concurrent_sessions_daily",  # SIGNED running-sum deltas
    "curriculum_quality_stages",   # doc-grain DESC prefix rank
    "hub_removal_edge_survival",   # top-k hubs + left-join survival
    "supplier_risk_scorecard",     # limit(20) then rank the survivors
    # r06 perf rewrites — value-pair folding and shared triangle counter
    "multimodal_phash_neardup",    # fingerprint-value pairing + counts
    "global_clustering_coefficient",  # oriented adjacency intersection
    "lerp_hourly_by_type",         # reversed running frames
    # remaining r06 value-grain percentile / top-k migrations
    "user_activation_latency",
    "first_passage_cumulative_value",
    "winback_rate",
    "bigram_branching_factor",
    "vocab_size_coverage_curve",
    "quality_fail_token_keyness",
    "kruskal_wallis_rank_stats",
]


def _freeze(v):
    if isinstance(v, list):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    return v


def test_results_invariant_under_shuffle_partition_count(spark):
    """The oracle gate runs under the driver's session config, tests under
    ours, a real cluster under neither — results must not depend on the
    partition count (the dense-id corruption class from r01)."""
    from mqtt2sql_spark.registry import all_specs

    specs = all_specs()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for key in _INVARIANCE_KEYS:
                df = specs[key].fn(spark, SF_DIR)
                rows = frozenset(
                    tuple(_freeze(v) for v in r) for r in df.collect()
                )
                results.setdefault(key, []).append(rows)
        for key, (a, b) in results.items():
            assert a == b, f"{key} differs across shuffle partition counts"
            assert len(a) > 0, f"{key} returned no rows"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# --- plan shapes of the round-3 additions ----------------------------------


def test_market_share_single_fact_shuffle_join(spark):
    """Q8 shape: AT MOST one non-broadcast join (lineitem x orders on the
    order key — at fixture scale even orders broadcasts, which is the
    right call); every dimension hangs off the fact as a broadcast hash
    join, and the selective predicates (p_type, r_name) reach their
    scans before the broadcast."""
    from mqtt2sql_spark.registry import all_specs

    plan = _plan(all_specs()["market_share_by_nation"].fn(spark, SF_DIR))
    n_broadcast = plan.count("BroadcastHashJoin")
    n_shuffle_joins = plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert n_shuffle_joins <= 1, plan
    assert n_broadcast >= 5, plan
    assert "CartesianProduct" not in plan
    assert "EqualTo(p_type,PROMO)" in plan  # pruned before broadcast
    assert "EqualTo(r_name,ASIA)" in plan


def test_returned_items_topk_uses_heap_topk(spark):
    """Q10 shape: global top-20 must be TakeOrderedAndProject (partition
    heaps + driver merge), never a full global sort."""
    from mqtt2sql_spark.registry import all_specs

    plan = _plan(all_specs()["returned_items_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # dimensions join the 20 survivors, not the full rollup
    assert plan.count("BroadcastHashJoin") >= 2


@pytest.mark.parametrize(
    "name",
    ["hot_topics_heavy_hitters", "salted_topic_counts", "bloom_pruned_revenue"],
)
def test_former_operator_queries_run_on_builtins(spark, name):
    """These three queries once ran hand-rolled operators (mapInPandas
    candidate mining, key salting, a broadcast bitmap probe).  The
    built-in forms are one partial+final aggregation over a scan or a
    semi join: no Python batch operator, no bitmap probe, no nested-loop
    or cartesian join."""
    from mqtt2sql_spark.registry import all_specs

    df = all_specs()[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for op in (
        "MapInPandas",
        "shiftleft",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert op not in plan, f"{name}: {op}\n{plan}"
    assert plan.count("HashAggregate") == 2, plan
    if name == "bloom_pruned_revenue":
        assert "LeftSemi" in plan, plan


def test_scd2_single_window_shuffle(spark):
    """SCD2 rendering: lead/row_number share one window over topicid —
    exactly one exchange beyond the history derivation itself."""
    from mqtt2sql_spark.registry import all_specs

    plan = _plan(all_specs()["scd2_topic_versions"].fn(spark, SF_DIR))
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan


# --- plan shapes of the round-3 continuation additions ----------------------


def test_linreg_trend_partial_aggregation_single_shuffle(spark):
    """The OLS sufficient statistics must partial-aggregate map-side and
    shuffle once on the series key — the mergeable-sketch shape."""
    from mqtt2sql_spark.registry import all_specs

    plan = _plan(all_specs()["linreg_trend_stats"].fn(spark, SF_DIR))
    assert "partial_sum" in plan or "partial_count" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan


def test_rolling_median_filter_reaches_scan(spark):
    """The date bound must prune at the parquet scan, not post-window."""
    from mqtt2sql_spark.registry import all_specs

    df = all_specs()["rolling_median_value"].fn(spark, SF_DIR)
    assert "IsNotNull(ts)" in _formatted(df)
    # one windowed shuffle on the series key only (simple mode prints
    # each physical node once; formatted repeats it in the detail list)
    assert _plan(df).count("Window") == 1


def test_activity_bitmask_partial_bit_or(spark):
    """bit_or folds map-side (partial aggregation) before the
    (series, day) shuffle — 8 bytes of state per group."""
    from mqtt2sql_spark.registry import all_specs

    plan = _plan(all_specs()["activity_bitmask_daily"].fn(spark, SF_DIR))
    assert "partial" in plan, plan
    assert "Window" not in plan


def test_weighted_median_single_partition_shuffle(spark):
    """Weighted median: both windows ride one (flag) exchange; no
    global-sort, no cartesian."""
    from mqtt2sql_spark.registry import all_specs

    plan = _plan(
        all_specs()["weighted_median_price_by_flag"].fn(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1


def test_linear_attribution_no_cartesian(spark):
    """Touch attribution joins on user_id equi-key with band predicates —
    never a cross join."""
    from mqtt2sql_spark.registry import all_specs

    plan = _plan(all_specs()["linear_attribution"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
