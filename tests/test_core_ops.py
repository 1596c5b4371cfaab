"""Edge-case micro-fixtures for the core operators (FIXTURES.md §3)."""

import datetime as dt

from pyspark.sql import functions as F

from mqtt2sql_spark.operators.history import history_rows
from mqtt2sql_spark.operators.upsert import latest_per_key


def _msgs(spark, rows):
    """rows: (topic, ts_str, value_str, event_id)"""
    return spark.createDataFrame(
        [
            (t, dt.datetime.fromisoformat(ts), v, e)
            for t, ts, v, e in rows
        ],
        "topic string, ts timestamp, value_str string, event_id long",
    )


def _control(spark, rows):
    """rows: (topic, id, enable, diffonly)"""
    return spark.createDataFrame(
        rows, "topic string, id long, history_enable int, history_diffonly int"
    )


def test_latest_per_key_ties_break_on_event_id(spark):
    # same-second timestamps (reference stamps at 1 s granularity,
    # mqtt2sql.py:522) — event_id must decide deterministically
    msgs = _msgs(
        spark,
        [
            ("t1", "2024-01-01T10:00:00", "a", 1),
            ("t1", "2024-01-01T10:00:00", "b", 2),
            ("t2", "2024-01-01T09:00:00", "x", 3),
            ("t2", "2024-01-01T08:00:00", "y", 4),
        ],
    )
    out = {
        r.topic: r.value_str
        for r in latest_per_key(msgs, "topic", ("ts", "event_id")).collect()
    }
    assert out == {"t1": "b", "t2": "x"}


def test_diffonly_is_run_length_encoding(spark):
    # value sequence A,A,B,B,A per one topic → history = A,B,A
    msgs = _msgs(
        spark,
        [
            ("t", f"2024-01-01T10:00:0{i}", v, i)
            for i, v in enumerate(["A", "A", "B", "B", "A"])
        ],
    )
    ctl = _control(spark, [("t", 1, 1, 1)])
    kept = history_rows(msgs, ctl).orderBy("event_id").collect()
    assert [r.value_str for r in kept] == ["A", "B", "A"]


def test_diffonly_first_message_always_recorded(spark):
    msgs = _msgs(
        spark,
        [
            ("a", "2024-01-01T10:00:00", "v", 1),
            ("b", "2024-01-01T10:00:01", "v", 2),
            ("c", "2024-01-01T10:00:02", "v", 3),
        ],
    )
    ctl = _control(spark, [("a", 1, 1, 1), ("b", 2, 1, 1), ("c", 3, 1, 1)])
    assert history_rows(msgs, ctl).count() == 3


def test_history_enable_routing_drops_disabled_topics(spark):
    msgs = _msgs(
        spark,
        [
            ("on", "2024-01-01T10:00:00", "x", 1),
            ("off", "2024-01-01T10:00:01", "y", 2),
        ],
    )
    ctl = _control(spark, [("on", 1, 1, 0), ("off", 2, 0, 0)])
    kept = history_rows(msgs, ctl).collect()
    assert [r.topic for r in kept] == ["on"]


def test_diffonly_zero_keeps_duplicates(spark):
    msgs = _msgs(
        spark,
        [("t", f"2024-01-01T10:00:0{i}", "same", i) for i in range(4)],
    )
    ctl = _control(spark, [("t", 1, 1, 0)])
    assert history_rows(msgs, ctl).count() == 4


def test_hex_roundtrip_non_utf8_bytes(spark):
    payloads = [bytes([0xFF, 0x00, 0x81]), b"\x01\x02", b""]
    df = spark.createDataFrame([(p,) for p in payloads], "value binary")
    out = df.select(
        F.unhex(F.hex("value")).alias("rt"), F.hex("value").alias("hx")
    ).collect()
    assert [bytes(r.rt) if r.rt is not None else b"" for r in out] == payloads
    assert out[0].hx == "FF0081"


def test_tz_render_dst_boundary(spark):
    # Europe/Berlin 2024-10-27: 02:00 CEST → 02:00 CET (clocks back);
    # UTC 00:30 and 01:30 both render as wall-clock 02:30
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 10, 27, 0, 30),),
            (dt.datetime(2024, 10, 27, 1, 30),),
        ],
        "ts timestamp",
    )
    out = df.select(
        F.date_format(
            F.from_utc_timestamp("ts", "Europe/Berlin"), "yyyy-MM-dd HH:mm:ss"
        ).alias("wall")
    ).collect()
    assert [r.wall for r in out] == ["2024-10-27 02:30:00"] * 2


def test_throttle_keeps_first_and_counts(spark):
    from tests.conftest import SF_DIR

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.analytics import (
        THROTTLE_BUCKET_US,
        throttle_events_5min,
    )
    from pyspark.sql import functions as F

    kept = throttle_events_5min(spark, SF_DIR).collect()
    total = load_table(spark, SF_DIR, "events").count()
    assert sum(r.n_in_bucket for r in kept) == total
    # kept rows are unique per (user, type, bucket) and are bucket minima
    seen = set()
    for r in kept:
        key = (
            r.user_id,
            r.event_type,
            int(r.ts.timestamp() * 1_000_000) // THROTTLE_BUCKET_US,
        )
        assert key not in seen
        seen.add(key)


def test_user_event_gini_bounds(spark):
    from tests.conftest import SF_DIR

    from mqtt2sql_spark.plans.analytics import user_event_gini

    rows = user_event_gini(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.gini_fp < 10000
        if r.n_types == 1:
            assert r.gini_fp == 0
        # Gini impurity with k classes is at most (1 - 1/k)
        assert r.gini_fp <= 10000 - 10000 // r.n_types


def test_deletion_index_equals_quadratic_levenshtein(spark):
    """The deletion-neighborhood candidate filter is complete: the
    filter-verify join returns exactly the ed<=1 subset of the
    quadratic broadcast compare (two structurally different plans)."""
    from mqtt2sql_spark.plans.analytics import (
        fuzzy_join_deletion_index,
        fuzzy_topic_match,
    )
    from tests.conftest import SF_DIR

    quad = {
        (r.topic_a, r.topic_b)
        for r in fuzzy_topic_match(spark, SF_DIR)
        .filter(F.col("dist") <= 1)
        .collect()
    }
    idx = {
        (r.topic_a, r.topic_b)
        for r in fuzzy_join_deletion_index(spark, SF_DIR).collect()
    }
    assert idx == quad


def test_pagerank_int_matches_python_reference(spark):
    """The integer PageRank recurrence is a bit-exact spec: the Spark
    loop must equal a direct Python evaluation, per node, exactly."""
    import random

    from mqtt2sql_spark.operators.pagerank import Q_MASS, pagerank_int

    rng = random.Random(7)
    nodes = list(range(12))
    und = {
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(30)
    }
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]

    # python reference
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(deg)
    s0 = Q_MASS // n
    score = {v: s0 for v in deg}
    for _ in range(8):
        inc = {v: 0 for v in deg}
        for a, b in edges:
            inc[b] += score[a] // deg[a]
        score = {v: (15 * s0 + 85 * inc[v]) // 100 for v in deg}

    df = spark.createDataFrame(edges, "src long, dst long").repartition(3)
    got = {r.v: r.s for r in pagerank_int(df, n_iter=8).collect()}
    assert got == score


def test_scd2_asof_snapshot_consistent_with_versions(spark):
    """The as-of snapshot is exactly the version row covering the
    instant, one row per topic first seen before it."""
    from pyspark.sql import functions as F

    from mqtt2sql_spark.plans.core import (
        SCD2_ASOF,
        scd2_asof_snapshot,
        scd2_topic_versions,
    )
    from tests.conftest import SF_DIR

    snap = {r.topicid: r for r in scd2_asof_snapshot(spark, SF_DIR).collect()}
    assert snap
    import datetime as dt

    t = dt.datetime.fromisoformat(SCD2_ASOF)
    vers = scd2_topic_versions(spark, SF_DIR).collect()
    want = {}
    for v in vers:
        if v.valid_from <= t and (v.valid_to is None or v.valid_to > t):
            assert v.topicid not in want  # ranges are disjoint
            want[v.topicid] = v
    assert set(snap) == set(want)
    for tid, s in snap.items():
        assert s.value_str == want[tid].value_str
        assert s.version == want[tid].version


def test_sequence_audit_identities(spark):
    from mqtt2sql_spark.plans.core import sequence_gap_audit
    from tests.conftest import SF_DIR

    r = sequence_gap_audit(spark, SF_DIR).collect()[0]
    assert r.n_distinct_ids <= r.n_rows
    assert r.max_id - r.min_id + 1 >= r.n_distinct_ids
    assert r.n_missing == r.max_id - r.min_id + 1 - r.n_distinct_ids
    assert r.n_duplicate_rows == r.n_rows - r.n_distinct_ids
