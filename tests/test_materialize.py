"""Both snapshot modes (local checkpoint vs recoverable persist) must
produce identical results — the cluster-survivable mode is an opt-in
swap, never a semantic change."""

import os

import pytest

from tests.conftest import SF_DIR


@pytest.fixture()
def reliable_env(monkeypatch):
    monkeypatch.setenv("MQTT2SQL_RELIABLE_SNAPSHOT", "1")


def test_mode_flag(monkeypatch):
    from mqtt2sql_spark.operators.materialize import reliable_mode

    monkeypatch.delenv("MQTT2SQL_RELIABLE_SNAPSHOT", raising=False)
    assert reliable_mode() is False
    monkeypatch.setenv("MQTT2SQL_RELIABLE_SNAPSHOT", "0")
    assert reliable_mode() is False
    monkeypatch.setenv("MQTT2SQL_RELIABLE_SNAPSHOT", "1")
    assert reliable_mode() is True


def test_reliable_snapshot_is_persisted_and_recoverable(
    spark, reliable_env
):
    from mqtt2sql_spark.operators.materialize import snapshot

    df = spark.range(100).transform(snapshot, eager=True)
    # persist(DISK_ONLY) keeps lineage (recoverable on executor loss);
    # localCheckpoint would report no storage level and truncate lineage
    assert df.storageLevel.useDisk and not df.storageLevel.useMemory
    assert df.count() == 100
    df.unpersist()


def test_local_snapshot_truncates_lineage(spark, monkeypatch):
    from mqtt2sql_spark.operators.materialize import snapshot

    monkeypatch.delenv("MQTT2SQL_RELIABLE_SNAPSHOT", raising=False)
    df = spark.range(100).transform(snapshot, eager=True)
    assert df.count() == 100
    # a local checkpoint is not a persist — storage level stays NONE
    assert not df.storageLevel.useDisk and not df.storageLevel.useMemory


def test_snapshot_heavy_plans_agree_across_modes(spark, monkeypatch):
    """Drive two snapshot-heavy operators (the shared value-grain base
    and diffs inside ks_statistic via the registered plan, and the iterative
    connected-components loop) in both modes; the recoverable mode must
    match the default mode bit-for-bit."""
    from mqtt2sql_spark.registry import all_specs

    specs = all_specs()
    names = ("ks_statistic_click_purchase", "dedup_components")
    by_mode = {}
    for flag in ("0", "1"):
        monkeypatch.setenv("MQTT2SQL_RELIABLE_SNAPSHOT", flag)
        by_mode[flag] = {
            n: sorted(tuple(r) for r in specs[n].fn(spark, SF_DIR).collect())
            for n in names
        }
    # drop the reliable-mode caches so later tests see a clean session
    spark.catalog.clearCache()
    for n in names:
        assert by_mode["1"][n] == by_mode["0"][n], n
        assert len(by_mode["0"][n]) > 0, n
