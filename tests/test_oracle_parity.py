"""Oracle parity at sf0.01 for queries whose implementation changed
without an operator test of its own: the Spark rows must hash like the
DuckDB oracle's rows under tools/check_oracle.py's canonical digest."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from check_oracle import arrow_type_violations, df_digest, jvm_gone  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    from mqtt2sql_spark.fixtures import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "hot_topics_heavy_hitters",
        "having_hot_topics",
        "salted_topic_counts",
        "bloom_pruned_revenue",
        # global rank / prefix sum / prefix max / lag as Spark's ordered
        # window
        "abc_parts_classification",
        "abc_xyz_policy_matrix",
        "bot_score_census",
        "curriculum_quality_stages",
        "daily_active_users_profile",
        "error_recovery_percentiles",
        "first_order_predictiveness",
        "first_passage_cumulative_value",
        "heaps_law_vocab_growth",
        "history_append_all",
        "history_diffonly",
        "history_retention_prune",
        "history_view_join",
        "ks_statistic_click_purchase",
        "kruskal_wallis_rank_stats",
        "lang_mix_by_ingestion_decile",
        "mannwhitney_u_click_purchase",
        "max_concurrent_sessions_daily",
        "revenue_pareto_deciles",
        "scd2_asof_snapshot",
        "scd2_topic_versions",
        "source_interleave_runs_test",
        "spearman_activity_value",
        "supplier_load_latency_corr",
        "systematic_weighted_sample",
        "topic_value_asof",
        "training_order_assignment",
        "user_activation_latency",
        "user_value_concentration",
        "value_drift_ks_by_type",
        "watermark_delay_sweep",
        "winback_rate",
        # skyline, trimmed mean and topic ancestors on built-ins
        "skyline_parts",
        "trimmed_mean_price",
        "topic_ancestors_udtf",
    ],
)
def test_query_matches_its_oracle(spark, duck, name):
    from mqtt2sql_spark.registry import all_specs

    spec = all_specs()[name]
    sdf = spec.fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(spec.oracle_sql())
    ocols = [d[0] for d in res.description]
    otable = res.arrow()
    orows = list(
        zip(*(otable.column(i).to_pylist() for i in range(otable.num_columns)))
    )
    assert srows, name
    spark_decimal_cols = {
        f.name for f in sdf.schema.fields
        if f.dataType.typeName().startswith("decimal")
    }
    assert arrow_type_violations(otable.schema, spark_decimal_cols) == []
    assert sorted(sdf.columns) == sorted(ocols)
    assert df_digest(sdf.columns, srows) == df_digest(ocols, orows)


def test_jvm_loss_is_told_apart_from_a_query_error():
    """check_oracle stops on a lost JVM instead of failing every later
    query as a parity break."""
    from py4j.protocol import Py4JNetworkError

    assert jvm_gone(ConnectionRefusedError(111, "Connection refused"))
    assert jvm_gone(Py4JNetworkError("Answer from Java side is empty"))
    wrapped = RuntimeError("collect failed")
    wrapped.__cause__ = ConnectionResetError()
    assert jvm_gone(wrapped)
    assert not jvm_gone(ValueError("[ARITHMETIC_OVERFLOW] long overflow"))
