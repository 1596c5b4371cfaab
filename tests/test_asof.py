"""As-of join operator (operators/asof.py asof_join_window)."""

import datetime as dt


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_window_asof_matches_merge_asof_semantics(spark):
    from mqtt2sql_spark.operators.asof import asof_join_window

    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 100),
            (1, _ts("2024-01-01T12:00:00"), 101),
            (2, _ts("2024-01-01T09:00:00"), 102),
        ],
        "user_id long, ts timestamp, event_id long",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 200),
            (1, _ts("2024-01-01T11:30:00"), 201),
            (3, _ts("2024-01-01T08:00:00"), 300),
        ],
        "user_id long, ts timestamp, click_id long",
    )
    strict = {
        r.event_id: r.click_id_right
        for r in asof_join_window(
            left, right, on="ts", by="user_id", right_cols=["click_id"],
            suffix="_right",
        ).collect()
    }
    assert strict == {100: None, 101: 201, 102: None}

    exact = {
        r.event_id: r.click_id_right
        for r in asof_join_window(
            left, right, on="ts", by="user_id", right_cols=["click_id"],
            suffix="_right", allow_exact=True,
        ).collect()
    }
    assert exact == {100: 200, 101: 201, 102: None}
