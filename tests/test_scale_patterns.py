"""Scale-pattern correctness: approximate sketches, partition pruning,
plan shapes — the techniques the 100 TB deployment leans on."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_approx_count_distinct_within_tolerance(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exact, approx = ev.select(
        F.countDistinct("user_id").alias("x"),
        F.approx_count_distinct("user_id", 0.02).alias("a"),
    ).first()
    assert abs(approx - exact) / exact < 0.1


def test_percentile_approx_close_to_exact(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    exact, approx = o.select(
        F.expr("percentile(o_totalprice, 0.5)").alias("x"),
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("a"),
    ).first()
    assert abs(approx - exact) / exact < 0.05


def test_partitioned_history_enables_partition_pruning(spark, tmp_path):
    """History written partitioned by dt must prune partitions on a
    dt-range read — the index replacement at 100 TB (SURVEY.md §3.3)."""
    from mqtt2sql_spark.fixtures import load_table

    ev = load_table(spark, SF_DIR, "events")
    hist = ev.select(
        "ts", F.col("event_id").alias("topicid"), F.to_date("ts").alias("dt")
    )
    out = str(tmp_path / "hist")
    hist.write.partitionBy("dt").parquet(out)

    pruned = spark.read.parquet(out).filter(F.col("dt") == "2024-01-03")
    jvm = spark.sparkContext._jvm
    plan = jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    # partition filter present, no per-row dt filter needed
    assert "PartitionFilters: [isnotnull(dt" in plan
    got = pruned.count()
    expect = ev.filter(F.to_date("ts") == "2024-01-03").count()
    assert got == expect > 0


def _plan(spark, df) -> str:
    jvm = spark.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_ivf_plan_broadcasts_centroids_and_probes(spark):
    """IVF must never shuffle the corpus against the centroid set: both
    the assignment compare and the probe join are broadcasts."""
    from mqtt2sql_spark.plans.similarity import ann_ivf_topk

    plan = _plan(spark, ann_ivf_topk(spark, SF_DIR))
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 2
    # the corpus side is never broadcast wholesale — no full SortMergeJoin
    # of embeddings against embeddings
    assert "SortMergeJoin" not in plan


def test_range_join_is_equi_not_nested_loop(spark):
    """The banded range join must plan as an equi-join on the composite
    (user, bucket) key — not the O(n²) nested-loop a raw inequality
    condition produces."""
    from mqtt2sql_spark.plans.timeseries import range_join_bucketed

    plan = _plan(spark, range_join_bucketed(spark, SF_DIR))
    assert "NestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_tfidf_broadcasts_df_side(spark):
    """Document-frequency (one row per distinct term) broadcasts; only
    (doc, term) pairs ever shuffle."""
    from mqtt2sql_spark.plans.text import tfidf_top_terms

    plan = _plan(spark, tfidf_top_terms(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_hll_is_two_hash_aggregates(spark):
    """The HLL sketch must plan as hash aggregates (mergeable partials),
    never a sort-based aggregate over raw hashes."""
    from mqtt2sql_spark.plans.sketches import hll_distinct_users

    plan = _plan(spark, hll_distinct_users(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # partial+final × register/total


@pytest.mark.parametrize(
    "name", ["skyline_parts", "trimmed_mean_price", "topic_ancestors_udtf"]
)
def test_queries_plan_without_python_nodes(spark, name):
    """The skyline, trimmed mean and topic-ancestor queries run on
    Spark built-ins: no Python node is left in the executed plan."""
    from mqtt2sql_spark.registry import all_specs

    df = all_specs()[name].fn(spark, SF_DIR)
    assert df.collect()
    plan = _plan(spark, df)  # after collect: AQE's final plan
    for node in ("MapInPandas", "ArrowAggregatePython", "BatchEvalPythonUDTF"):
        assert node not in plan, (name, node)


def test_pagerank_iterations_aggregate_partially(spark):
    """Every PageRank iteration's inbound-mass aggregate must partial-
    aggregate map-side (partial_sum of the shares before the exchange),
    so iteration cost scales with |E| map-side, not shuffled rows."""
    from mqtt2sql_spark.plans.analytics import pagerank_copurchase
    from tests.conftest import SF_DIR

    df = pagerank_copurchase(spark, SF_DIR)
    jvm = spark.sparkContext._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "partial_sum(share" in plan


def test_gram_matrix_shuffles_only_blocks(spark):
    """The Gram matrix must shuffle ONLY the fixed d x d per-partition
    blocks: exactly one hash exchange (the final block addition), never
    an exchange of the N x d^2 product stream."""
    from mqtt2sql_spark.plans.similarity import embedding_gram_matrix
    from tests.conftest import SF_DIR

    df = embedding_gram_matrix(spark, SF_DIR)
    jvm = spark.sparkContext._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    # one REPARTITION (input fan-out) + one ENSURE_REQUIREMENTS (block
    # addition) is the budget; the partial_sum proves map-side combine
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_sum(s" in plan


def test_item_item_cosine_bounds_and_rank(spark):
    """cosine <= 1 (x10000 fixed-point), co <= min(supports), and the
    per-part neighbor rank is a contiguous total order."""
    from mqtt2sql_spark.plans.analytics import item_item_cosine_topk

    rows = item_item_cosine_topk(spark, SF_DIR).collect()
    assert rows
    by_part = {}
    for r in rows:
        assert 0 < r.cosine_x10000 <= 10000
        assert r.co_orders <= min(r.n_part, r.n_nbr)
        by_part.setdefault(r.part, []).append(r)
    for part, rs in by_part.items():
        rks = sorted(x.rk for x in rs)
        assert rks == list(range(1, len(rks) + 1))
        ordered = sorted(rs, key=lambda x: (-x.cosine_x10000, x.nbr))
        assert [x.rk for x in ordered] == list(range(1, len(rs) + 1))


def test_chi_square_matches_scipy_free_reference(spark):
    """Per-type chi2 contributions recomputed with exact Python ints
    using the same per-cell ppm quantization."""
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import chi_square_type_dow

    out = {r.event_type: r for r in chi_square_type_dow(spark, SF_DIR).collect()}
    assert out
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_type", (F.weekday("ts") + 1).alias("dow"))
        .collect()
    )
    cells, rowt, colt = {}, {}, {}
    for r in ev:
        cells[(r.event_type, r.dow)] = cells.get((r.event_type, r.dow), 0) + 1
        rowt[r.event_type] = rowt.get(r.event_type, 0) + 1
        colt[r.dow] = colt.get(r.dow, 0) + 1
    n = len(ev)
    for t, row in out.items():
        chi = sum(
            (o * n - rowt[t] * colt[d]) ** 2 * 1_000_000
            // (rowt[t] * colt[d] * n)
            for (tt, d), o in cells.items()
            if tt == t
        )
        assert row.chi2_ppm == chi
        assert row.n_events == rowt[t]


def test_fd_true_dependency_has_zero_violations(spark):
    from mqtt2sql_spark.plans.analytics import fd_discovery_audit

    rows = {r.candidate: r for r in fd_discovery_audit(spark, SF_DIR).collect()}
    assert rows["c_custkey->c_nationkey"].n_violating == 0
    assert rows["c_custkey->c_nationkey"].violation_ppm == 0
    assert rows["c_custkey->c_nationkey"].max_rhs_ndv == 1
    # l_orderkey -> l_returnflag is NOT an FD in TPC-H-ish data
    assert rows["l_orderkey->l_returnflag"].n_keys > 0


def test_seasonal_index_centers_near_unity(spark):
    """Ratio-to-MA indices average near 1e6 ppm across calendar months
    (the seasonal component is mean-one by construction)."""
    from mqtt2sql_spark.plans.analytics import seasonal_index_monthly

    rows = seasonal_index_monthly(spark, SF_DIR).collect()
    assert len(rows) == 12
    mean = sum(r.seasonal_index_ppm for r in rows) / 12
    assert 0.8e6 < mean < 1.2e6
    for r in rows:
        assert r.min_idx_ppm <= r.seasonal_index_ppm <= r.max_idx_ppm


def test_phrase_hits_contain_the_phrase(spark):
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.text import PHRASE, phrase_search_positional

    rows = phrase_search_positional(spark, SF_DIR).collect()
    assert rows
    ids = [r.doc_id for r in rows]
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF_DIR, "documents")
        .where(F.col("doc_id").isin(ids))
        .collect()
    }
    phrase = " ".join(PHRASE)
    for r in rows:
        toks = docs[r.doc_id].lower().split()
        occ = sum(
            1
            for i in range(len(toks) - 1)
            if toks[i] == PHRASE[0] and toks[i + 1] == PHRASE[1]
        )
        assert occ == r.n_occ, (r.doc_id, occ, r.n_occ)
        assert phrase in " ".join(toks)


def test_business_days_match_python_weekday_count(spark):
    """Business-day formula re-verified against datetime.weekday() on a
    sample of (order, ship) ranges."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import business_day_ship_latency

    out = {r.o_orderpriority: r for r in
           business_day_ship_latency(spark, SF_DIR).collect()}
    assert out
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship")
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("placed"),
        "o_orderpriority",
    )
    rows = li.join(orders, li.l_orderkey == orders.o_orderkey).collect()
    totals, counts = {}, {}
    for r in rows:
        if r.ship < r.placed:
            continue  # excluded population (fixture dates are independent)
        # weekdays in [placed, ship): the prefix-function convention
        bd, d = 0, r.placed
        while d < r.ship:
            if d.weekday() < 5:
                bd += 1
            d += timedelta(days=1)
        totals[r.o_orderpriority] = totals.get(r.o_orderpriority, 0) + bd
        counts[r.o_orderpriority] = counts.get(r.o_orderpriority, 0) + 1
    for prio, row in out.items():
        assert row.total_bd == totals[prio]
        assert row.n_lineitems == counts[prio]


def test_backlog_counts_intervals_covering_month_start(spark):
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import open_orders_backlog_monthly

    out = {r.month: r.n_open for r in
           open_orders_backlog_monthly(spark, SF_DIR).collect()}
    assert out
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship")
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("placed")
    )
    spans = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "placed")
        .agg(F.max("ship").alias("last_ship"))
        .collect()
    )
    probe = sorted(out)[len(out) // 2]
    n = sum(1 for s in spans if s.placed <= probe < s.last_ship)
    assert out[probe] == n


def test_value_migration_partitions_customers(spark):
    """Every customer lands in exactly one matrix cell and the matrix
    row/col marginals are consistent with per-half presence counts."""
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import (
        _CVM_SPLIT,
        customer_value_migration,
    )

    rows = customer_value_migration(spark, SF_DIR).collect()
    assert rows
    n_total = sum(r.n_customers for r in rows)
    n_cust = (
        load_table(spark, SF_DIR, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert n_total == n_cust
    # nobody can be absent in both halves (they ordered at least once)
    assert not any(r.tier_h1 == 0 and r.tier_h2 == 0 for r in rows)


def test_partition_advisor_flags_skew_sanely(spark):
    from mqtt2sql_spark.plans.sketches import partition_key_advisor

    rows = {r.candidate: r for r in partition_key_advisor(spark, SF_DIR).collect()}
    assert set(rows) == {"event_type", "user_id", "day", "hour_of_day"}
    for r in rows.values():
        assert r.n_keys > 0 and r.n_rows > 0
        assert r.avg_rows_per_key == r.n_rows // r.n_keys
        assert 0 < r.top_share_ppm <= 1_000_000
        assert r.balanced in (0, 1)
    assert rows["user_id"].n_keys > rows["event_type"].n_keys


def test_encoding_advisor_stats_consistent(spark):
    from mqtt2sql_spark.plans.sketches import encoding_advisor_events

    rows = {r.col: r for r in encoding_advisor_events(spark, SF_DIR).collect()}
    assert set(rows) == {"event_type", "user_id", "value", "props"}
    for r in rows.values():
        assert 0 < r.ndv <= r.n_rows
        assert r.dict_ratio_ppm == r.ndv * 1_000_000 // r.n_rows
        assert 0 <= r.n_run_continuations < r.n_rows
    # five event types must dictionary-encode far better than values
    assert rows["event_type"].dict_ratio_ppm < rows["value"].dict_ratio_ppm


def test_exposure_lift_groups_partition_user_days(spark):
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import exposure_conversion_lift

    rows = {r.exposed: r for r in exposure_conversion_lift(spark, SF_DIR).collect()}
    assert set(rows) == {0, 1}
    n_user_days = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", F.col("ts").cast("date"))
        .distinct()
        .count()
    )
    assert rows[0].n_users + rows[1].n_users == n_user_days
    assert rows[1].lift_vs_unexposed_ppm > 0


def test_ltv_curves_are_monotone_and_consistent(spark):
    from mqtt2sql_spark.plans.analytics import cohort_ltv_curves

    rows = cohort_ltv_curves(spark, SF_DIR).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort, []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r.age_m)
        cum = 0
        for r in rs:
            cum += r.rev_cents
            assert r.cum_cents == cum
            assert r.ltv_per_cust_cents == cum // r.n_customers
        # age 0 always exists: the first order itself
        assert rs[0].age_m == 0


def test_keyness_recomputed_for_top_token(spark):
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.text import (
        KEYNESS_SOURCE,
        source_token_keyness,
    )

    rows = source_token_keyness(spark, SF_DIR).collect()
    assert len(rows) == 20
    import re

    a_tot = b_tot = 0
    counts = {}
    for r in load_table(spark, SF_DIR, "documents").select(
        "source", "text"
    ).collect():
        focus = 1 if r.source == KEYNESS_SOURCE else 0
        for w in re.findall(r"[a-z0-9]+", r.text.lower()):
            c = counts.setdefault(w, [0, 0])
            c[focus] += 1
    a_tot = sum(v[1] for v in counts.values())
    b_tot = sum(v[0] for v in counts.values())
    top = rows[0]
    b, a = counts[top.w]
    assert (a, b) == (top.n_focus, top.n_reference)
    num = (a * b_tot - b * a_tot) ** 2 * 1_000_000
    den = (a + b) * a_tot * b_tot * (a_tot + b_tot - a - b) // (a_tot + b_tot)
    assert top.chi2_ppm == num // den


def test_next_order_backtest_median_for_probe_customer(spark):
    """Recompute the leave-last-out median-interval error for one
    customer in plain Python."""
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import next_order_backtest

    out = {r.c_mktsegment: r for r in next_order_backtest(spark, SF_DIR).collect()}
    assert out
    orders = (
        load_table(spark, SF_DIR, "orders")
        .select(
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("d"),
            "o_orderkey",
        )
        .collect()
    )
    cust = {
        r.c_custkey: r.c_mktsegment
        for r in load_table(spark, SF_DIR, "customer").collect()
    }
    seqs = {}
    for r in sorted(orders, key=lambda x: (x.o_custkey, x.d, x.o_orderkey)):
        seqs.setdefault(r.o_custkey, []).append(r.d)
    totals, counts = {}, {}
    for ck, ds in seqs.items():
        if len(ds) < 3:
            continue
        gaps = [(b - a).days for a, b in zip(ds, ds[1:])]
        train, final = sorted(gaps[:-1]), gaps[-1]
        k = len(train)
        med2 = 2 * train[k // 2] if k % 2 else train[k // 2 - 1] + train[k // 2]
        seg = cust[ck]
        totals[seg] = totals.get(seg, 0) + abs(2 * final - med2)
        counts[seg] = counts.get(seg, 0) + 1
    for seg, row in out.items():
        assert row.total_err_x2_days == totals[seg]
        assert row.n_customers == counts[seg]


def test_single_source_risk_bands_partition_parts(spark):
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import single_source_risk

    rows = {r.sourcing: r for r in single_source_risk(spark, SF_DIR).collect()}
    # at tiny scale a band may be empty; present bands must be known ones
    assert rows and set(rows) <= {"diversified", "leaning", "concentrated"}
    n_parts = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert sum(r.n_parts for r in rows.values()) == n_parts
    assert sum(r.revenue_share_ppm for r in rows.values()) <= 1_000_000


def test_revenue_bridge_effects_sum_to_delta(spark):
    from mqtt2sql_spark.plans.analytics import revenue_bridge_yoy

    rows = revenue_bridge_yoy(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.delta_cents == r.rev1 - r.rev0
        assert (
            r.volume_effect_cents + r.price_mix_effect_cents
            == r.delta_cents
        )


def test_repeat_share_bounds(spark):
    from mqtt2sql_spark.plans.analytics import repeat_revenue_share

    rows = repeat_revenue_share(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        total = r.first_order_cents + r.repeat_cents
        assert total > 0
        assert r.repeat_share_ppm == r.repeat_cents * 1_000_000 // total


def test_hockey_stick_share_is_plausible_and_exact(spark):
    from mqtt2sql_spark.plans.analytics import hockey_stick_ratio

    rows = hockey_stick_ratio(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.last7_cents <= r.month_cents
        assert (
            r.last7_share_ppm
            == r.last7_cents * 1_000_000 // r.month_cents
        )
        assert r.hockey_stick == (1 if r.last7_share_ppm > 400_000 else 0)


def test_assortativity_in_valid_range(spark):
    from mqtt2sql_spark.plans.analytics import (
        degree_assortativity_copurchase,
    )

    r = degree_assortativity_copurchase(spark, SF_DIR).collect()[0]
    assert -1_000_000 <= r.assortativity_x1e6 <= 1_000_000
    assert r.n_edge_ends % 2 == 0  # both orientations counted


def test_backlog_ages_bucket_all_open_orders(spark):
    from mqtt2sql_spark.plans.analytics import (
        backlog_age_histogram,
        open_orders_backlog_monthly,
    )

    rows = backlog_age_histogram(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        lo, hi = (1 << r.age_octave) - 1, (1 << (r.age_octave + 1)) - 2
        assert lo <= r.min_age_days <= r.max_age_days <= hi
    # snapshot total equals the monthly backlog count for that month
    monthly = {
        str(r.month): r.n_open
        for r in open_orders_backlog_monthly(spark, SF_DIR).collect()
    }
    assert sum(r.n_orders for r in rows) == monthly["1998-07-01"]


def test_trade_flow_shares_and_dispersion_consistency(spark):
    from mqtt2sql_spark.plans.analytics import (
        order_count_dispersion,
        trade_flow_matrix,
    )

    flows = trade_flow_matrix(spark, SF_DIR).collect()
    assert flows
    total = sum(r.cents for r in flows)
    for r in flows:
        assert r.share_ppm == r.cents * 1_000_000 // total
        assert r.domestic == (1 if r.supp_nation == r.cust_nation else 0)
    disp = order_count_dispersion(spark, SF_DIR).collect()
    assert disp
    for r in disp:
        assert r.mean_ppm == r.n_orders * 1_000_000 // r.n_customers
        assert r.dispersion_ppm >= 0


def test_fiscal_445_preserves_totals_and_period_lengths(spark):
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import (
        _F445_EPOCH,
        fiscal_445_revenue,
    )

    rows = fiscal_445_revenue(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= r.fiscal_quarter <= 4
        assert 1 <= r.fiscal_period <= 3
    total = (
        load_table(spark, SF_DIR, "orders")
        .where(
            F.col("o_orderdate").cast("date")
            >= F.lit(_F445_EPOCH).cast("date")
        )
        .select(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
        .groupBy()
        .sum()
        .collect()[0][0]
    )
    assert sum(r.rev_cents for r in rows) == total


def test_wilson_bound_below_raw_rate_and_matches_python(spark):
    import math

    from mqtt2sql_spark.plans.analytics import (
        _WILSON_Z,
        _WILSON_Z2,
        return_rate_wilson_rank,
    )

    rows = return_rate_wilson_rank(spark, SF_DIR).collect()
    assert rows
    for row in rows:
        assert row.wilson_lb_ppm <= row.raw_rate_ppm
        p = row.r / row.n
        lb = (
            p
            + _WILSON_Z2 / (2 * row.n)
            - _WILSON_Z
            * math.sqrt(p * (1 - p) / row.n + _WILSON_Z2 / (4 * row.n**2))
        ) / (1 + _WILSON_Z2 / row.n)
        # same formula in Python floats: agree within 1 fixed-point ulp
        assert abs(row.wilson_lb_ppm - math.floor(lb * 1_000_000)) <= 1


def test_t_closeness_emd_for_probe_cohort(spark):
    """Recompute one cohort's EMD in exact Python integers."""
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import _TC_BUCKET, t_closeness_audit

    row = t_closeness_audit(spark, SF_DIR).collect()[0]
    assert row.n_groups > 0
    assert 0 <= row.max_emd_ppm <= 2_000_000  # EMD over shares <= 2
    ev = (
        load_table(spark, SF_DIR, "events")
        .select(F.expr(f"user_id div {_TC_BUCKET}").alias("qi"), "event_type")
        .collect()
    )
    types = sorted({e.event_type for e in ev})
    big_n = len(ev)
    gcount = {t: sum(1 for e in ev if e.event_type == t) for t in types}
    best = -1
    for qi in {e.qi for e in ev}:
        grp = [e for e in ev if e.qi == qi]
        n = len(grp)
        cum = emd = 0
        for t in types:
            c = sum(1 for e in grp if e.event_type == t)
            cum += c * big_n - gcount[t] * n
            emd += abs(cum)
        best = max(best, emd * 1_000_000 // (big_n * n))
    assert row.max_emd_ppm == best


def test_payload_octaves_and_dom_shares(spark):
    from mqtt2sql_spark.plans.analytics import dom_order_profile
    from mqtt2sql_spark.plans.core import payload_size_profile

    prof = payload_size_profile(spark, SF_DIR).collect()
    assert prof
    for r in prof:
        lo, hi = (1 << r.size_octave) - 1, (1 << (r.size_octave + 1)) - 2
        assert lo <= r.max_bytes <= hi or r.max_bytes >= lo
        assert r.total_bytes >= r.n_messages  # payloads are non-empty
    dom = dom_order_profile(spark, SF_DIR).collect()
    assert 28 <= len(dom) <= 31
    assert sum(r.order_share_ppm for r in dom) <= 1_000_000
    # days 1..28 exist in every month, so none of them can be empty
    assert {r.day_of_month for r in dom} >= set(range(1, 29))


def test_duplicate_vector_counts_reconcile(spark):
    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.similarity import duplicate_vectors_exact

    r = duplicate_vectors_exact(spark, SF_DIR).collect()[0]
    n_rows = load_table(spark, SF_DIR, "embeddings").count()
    assert r.n_distinct_vectors + r.n_redundant_rows == n_rows
    assert (r.n_dup_groups == 0) == (r.max_group_size == 1)


def test_priority_inversion_near_null_in_fixture(spark):
    """Fixture dates are independent of priority, so inversion rates
    should hover near the null 50% (binomial band), and pair counts
    must cover all 10 ordered priority pairs."""
    from mqtt2sql_spark.plans.analytics import priority_inversion_audit

    rows = priority_inversion_audit(spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.prio_urgent < r.prio_casual
        assert r.inversion_ppm == r.n_inversions * 1_000_000 // r.n_pairs
        # ties (equal latency) count as non-inversions, so the null
        # rate sits at or just below 50%; allow 4-sigma binomial noise
        sigma_ppm = int((0.25 / r.n_pairs) ** 0.5 * 1_000_000)
        assert abs(r.inversion_ppm - 500_000) < 4 * sigma_ppm + 20_000


def test_ks_drift_matches_scipy_free_recount(spark):
    """Recompute one type's KS D exactly in Python."""
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import (
        _KS_SPLIT,
        value_drift_ks_by_type,
    )

    out = {r.event_type: r for r in value_drift_ks_by_type(spark, SF_DIR).collect()}
    assert out
    import datetime as dt

    split = dt.datetime.fromisoformat(_KS_SPLIT)
    probe = sorted(out)[0]
    vals = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_type") == probe)
        .select("ts", "value")
        .collect()
    )
    a = sorted(v.value for v in vals if v.ts < split)
    b = sorted(v.value for v in vals if v.ts >= split)
    na, nb = len(a), len(b)
    grid = sorted(set(a) | set(b))
    import bisect

    d = max(
        abs(bisect.bisect_right(a, v) * nb - bisect.bisect_right(b, v) * na)
        for v in grid
    )
    r = out[probe]
    assert (r.n_a, r.n_b) == (na, nb)
    assert r.d_num == d
    assert r.d_ppm == d * 1_000_000 // (na * nb)


def test_price_endings_cover_population(spark):
    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import price_ending_profile

    rows = price_ending_profile(spark, SF_DIR).collect()
    assert rows
    n = load_table(spark, SF_DIR, "orders").count()
    assert sum(r.n_orders for r in rows) == n
    assert {r.ending_class for r in rows} <= {
        "round_00", "charm_99", "round_x0", "other"
    }


def test_tables_audit_is_clean_and_z_chart_reconciles(spark):
    from mqtt2sql_spark.plans.analytics import (
        tables_row_audit,
        z_chart_weekly_revenue,
    )

    audit = {r.table_name: r for r in tables_row_audit(spark, SF_DIR).collect()}
    assert len(audit) == 9
    for r in audit.values():
        assert r.n_null_pk == 0 and r.n_dup_pk == 0  # fixture PKs are clean
        assert r.n_rows > 0
    z = sorted(
        z_chart_weekly_revenue(spark, SF_DIR).collect(),
        key=lambda r: r.week_idx,
    )
    assert z
    # MAT at any week equals the sum of weekly rev over the window
    by_idx = {r.week_idx: r.rev for r in z}
    probe = z[len(z) // 2]
    mat = sum(
        v for k, v in by_idx.items()
        if probe.week_idx - 51 <= k <= probe.week_idx
    )
    assert probe.moving_annual_total == mat
    # YTD resets: first week of each year equals its own revenue
    first_of_year = {}
    for r in z:
        first_of_year.setdefault(r.yr, r)
    for r in first_of_year.values():
        assert r.cum_ytd == r.rev


def test_negative_balance_and_error_corr_bounds(spark):
    from mqtt2sql_spark.plans.analytics import negative_balance_by_nation
    from mqtt2sql_spark.plans.timeseries import error_load_correlation

    rows = negative_balance_by_nation(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_negative <= r.n_customers
        assert r.negative_exposure_cents <= 0
        assert (
            r.negative_share_ppm
            == r.n_negative * 1_000_000 // r.n_customers
        )
    c = error_load_correlation(spark, SF_DIR).collect()[0]
    assert -1_000_000 <= c.pearson_x1e6 <= 1_000_000
    assert c.n_errors <= c.n_events


def test_fan_out_is_scale_adaptive(spark, tmp_path):
    """fan_out must repartition a single-split scan (the local fixture
    shape) but become a no-op once the scan already yields at least the
    session parallelism — the unconditional post-scan repartition it
    replaced would shuffle the whole corpus at 100 TB for nothing."""
    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.operators.partitioning import fan_out

    target = spark.sparkContext.defaultParallelism

    # single parquet file -> one input split -> the fan-out must fire
    docs = load_table(spark, SF_DIR, "documents")
    assert docs.rdd.getNumPartitions() < target
    fanned = docs.transform(fan_out, spark, "doc_id")
    assert fanned.rdd.getNumPartitions() == target
    assert "REPARTITION_BY_NUM" in fanned._jdf.queryExecution().toString()

    # pre-split input at/above the target -> identical plan, no exchange
    out = str(tmp_path / "many")
    docs.repartition(target).write.parquet(out)
    many = spark.read.parquet(out)
    assert many.rdd.getNumPartitions() >= target
    passed = many.transform(fan_out, spark, "doc_id")
    assert passed is many  # returned untouched, no repartition node
