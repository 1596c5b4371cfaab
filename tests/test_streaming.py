"""Streaming semantics (SURVEY.md §5 item 3): batch/stream parity.

The fixture messages are split into time-ordered parquet slices; the file
source replays them as micro-batches (maxFilesPerTrigger=1).  After the
stream drains, the sink's `mqtt` table and history must equal the batch
operators' output on the union of all slices."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.history import history_rows
from mqtt2sql_spark.operators.upsert import latest_per_key
from mqtt2sql_spark.sinks.upsert import MqttUpsertSink
from mqtt2sql_spark.streaming.pipeline import (
    MESSAGE_SCHEMA,
    apply_filters,
    message_file_stream,
    start_ingest,
)

_BASE = dt.datetime(2024, 1, 1, 10, 0, 0)


def _mk_messages(spark, rows):
    return spark.createDataFrame(
        [
            (
                _BASE + dt.timedelta(seconds=o),
                t,
                v.encode(),
                0,
                0,
                e,
            )
            for t, o, v, e in rows
        ],
        MESSAGE_SCHEMA,
    )


SLICES = [
    # (topic, sec offset, value, event_id) — time-ordered across slices
    [("a", 0, "x", 1), ("b", 1, "p", 2), ("a", 2, "x", 3)],
    [("a", 10, "y", 4), ("b", 11, "p", 5), ("c", 12, "q", 6)],
    [("a", 20, "y", 7), ("b", 21, "r", 8), ("a", 22, "z", 9)],
]


@pytest.fixture()
def staged(spark, tmp_path):
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    for i, rows in enumerate(SLICES):
        _mk_messages(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(input_dir / f"slice_{i}.parquet")
        )
    return input_dir


def _drain(q):
    q.processAllAvailable()
    q.stop()


def test_stream_converges_to_batch_latest(spark, staged, tmp_path):
    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    stream = message_file_stream(spark, str(staged) + "/*")
    q = start_ingest(stream, sink, str(tmp_path / "ckpt"))
    _drain(q)

    got = {
        r.topic: (r.ts, bytes(r.value).decode(), r.id)
        for r in sink.current_mqtt().collect()
    }
    all_msgs = _mk_messages(spark, [r for s in SLICES for r in s])
    expect = {
        r.topic: (r.ts, bytes(r.value).decode())
        for r in latest_per_key(all_msgs, "topic", ("ts", "event_id")).collect()
    }
    assert {t: v[:2] for t, v in got.items()} == expect
    # ids are dense, first-seen order: a=1, b=2, c=3
    assert {t: v[2] for t, v in got.items()} == {"a": 1, "b": 2, "c": 3}


def test_stream_history_is_cross_batch_diffonly(spark, staged, tmp_path):
    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    stream = message_file_stream(spark, str(staged) + "/*")
    q = start_ingest(stream, sink, str(tmp_path / "ckpt"))
    _drain(q)

    hist = sink.history().orderBy("ts").collect()
    got = [(r.topicid, bytes(r.value).decode()) for r in hist]
    # per topic value sequences: a: x,x,y,y,z → x,y,z ; b: p,p,r → p,r ;
    # c: q → q.  Cross-batch duplicates (a:"x" slice0→slice0, a:"y"
    # slice1→slice2, b:"p" slice0→slice1) MUST be suppressed.
    assert got.count((1, "x")) == 1
    assert got.count((1, "y")) == 1
    assert got.count((1, "z")) == 1
    assert got.count((2, "p")) == 1
    assert got.count((2, "r")) == 1
    assert got.count((3, "q")) == 1
    assert len(got) == 6


def test_stream_matches_batch_history_operator(spark, staged, tmp_path):
    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    stream = message_file_stream(spark, str(staged) + "/*")
    q = start_ingest(stream, sink, str(tmp_path / "ckpt"))
    _drain(q)

    all_msgs = _mk_messages(spark, [r for s in SLICES for r in s]).withColumn(
        "value_str", F.col("value").cast("string")
    )
    ctl = sink.current_mqtt().select(
        "topic", "id", "history_enable", "history_diffonly"
    )
    batch_hist = {
        (r.topicid, r.value_str, r.ts)
        for r in history_rows(all_msgs, ctl).collect()
    }
    stream_hist = {
        (r.topicid, bytes(r.value).decode(), r.ts)
        for r in sink.history().collect()
    }
    assert stream_hist == batch_hist


def test_streaming_filters(spark, staged, tmp_path):
    stream = message_file_stream(spark, str(staged) + "/*")
    filtered = apply_filters(
        stream, subscribe_patterns=["#"], exclude_topics=["b"]
    )
    out_dir = tmp_path / "out"
    q = (
        filtered.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .start()
    )
    _drain(q)
    rows = spark.read.parquet(str(out_dir)).collect()
    assert {r.topic for r in rows} == {"a", "c"}


def test_streaming_hll_register_maintenance(spark, staged, tmp_path):
    """Incremental sketch maintenance: foreachBatch merges each
    microbatch's HLL registers into a bounded versioned state table
    (max-merge, <= M rows per group) and the final state equals the
    batch registers over all slices — the mergeability contract that
    lets a 100 TB stream keep distinct counts without retaining keys.
    Versioned state dirs keyed by batch_id make replays idempotent
    (an epoch re-run overwrites its own version, the spool-sink
    commit pattern)."""
    import os

    from mqtt2sql_spark.plans.sketches import hll_registers

    state_root = tmp_path / "hll_state"

    def merge_batch(batch_df, batch_id):
        regs = hll_registers(
            batch_df.select(
                "topic", F.col("value").cast("string").alias("v")
            ),
            "topic",
            "v",
        )
        if state_root.exists():
            versions = sorted(os.listdir(state_root))
            if versions:
                prev = spark.read.parquet(str(state_root / versions[-1]))
                regs = (
                    prev.unionByName(regs)
                    .groupBy("grp", "bucket")
                    .agg(F.max("rho").alias("rho"))
                )
        regs.write.mode("overwrite").parquet(
            str(state_root / f"v{batch_id:05d}")
        )

    stream = message_file_stream(spark, str(staged) + "/*")
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)

    final_version = sorted(os.listdir(state_root))[-1]
    got = {
        (r["grp"], r["bucket"], r["rho"])
        for r in spark.read.parquet(
            str(state_root / final_version)
        ).collect()
    }
    all_msgs = spark.read.schema(MESSAGE_SCHEMA).parquet(str(staged) + "/*")
    want = {
        (r["grp"], r["bucket"], r["rho"])
        for r in hll_registers(
            all_msgs.select(
                "topic", F.col("value").cast("string").alias("v")
            ),
            "topic",
            "v",
        ).collect()
    }
    assert got == want and len(got) > 0


# --- EWMA anomaly detector: batch/stream parity -----------------------------


def _numeric_slices():
    """Per-topic numeric series with a planted outlier per topic."""
    import itertools

    series = {
        "sensor/a": [10.0, 10.5, 9.8, 10.2, 10.1, 10.3, 99.0, 10.0, 10.2],
        "sensor/b": [5.0, 5.1, 4.9, 5.0, 5.2, 5.1, 5.0, -40.0, 5.1],
    }
    rows = []
    eid = itertools.count(1)
    for topic, xs in series.items():
        for i, x in enumerate(xs):
            rows.append((topic, i * 60, x, next(eid)))
    rows.sort(key=lambda r: (r[1], r[3]))
    # three time-ordered slices
    third = (len(rows) + 2) // 3
    return [rows[:third], rows[third : 2 * third], rows[2 * third :]]


def _mk_numeric(spark, rows):
    return spark.createDataFrame(
        [
            (_BASE + dt.timedelta(seconds=sec), t, x, e)
            for t, sec, x, e in rows
        ],
        "ts timestamp, topic string, x double, event_id long",
    )


def test_ewma_stream_equals_batch(spark, tmp_path):
    from mqtt2sql_spark.streaming.ewma import (
        ewma_anomalies_batch,
        ewma_anomalies_stream,
    )

    slices = _numeric_slices()
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    for i, rows in enumerate(slices):
        _mk_numeric(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(input_dir / f"s{i}.parquet")
        )

    stream = (
        spark.readStream.schema(
            "ts timestamp, topic string, x double, event_id long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(input_dir) + "/*")
    )
    out_dir = tmp_path / "out"
    q = (
        ewma_anomalies_stream(stream)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    _drain(q)

    got = {
        (r["topic"], r["event_id"], r["x"], r["is_anomaly"])
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    all_rows = _mk_numeric(spark, [r for s in slices for r in s])
    want = {
        (r["topic"], r["event_id"], r["x"], r["is_anomaly"])
        for r in ewma_anomalies_batch(all_rows).collect()
    }
    assert got == want
    # the planted outliers are flagged, early warmup points are not
    flagged = {(t, e) for t, e, _x, f in want if f == 1}
    by_topic = {}
    for t, e, x, f in want:
        by_topic.setdefault(t, []).append((e, x, f))
    assert any(x == 99.0 and f == 1 for _e, x, f in by_topic["sensor/a"])
    assert any(x == -40.0 and f == 1 for _e, x, f in by_topic["sensor/b"])
    assert all(
        f == 0 for t, e, x, f in want if x not in (99.0, -40.0)
    ), flagged


def test_hll_sink_stream_matches_batch_registers(spark, tmp_path):
    """foreachBatch HLL register maintenance: after streaming N
    micro-batches, the state table must equal hll_registers() over the
    union — the mergeability contract, plus replay idempotence."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mqtt2sql_spark.plans.sketches import hll_registers
    from mqtt2sql_spark.streaming.hll_sink import HllRegisterSink
    from mqtt2sql_spark.streaming.pipeline import (
        MESSAGE_SCHEMA,
        message_file_stream,
    )

    d0 = dt.datetime(2024, 1, 1)
    batches = [
        [(d0, f"t/{i % 3}", b"x", 0, 0, i) for i in range(40)],
        [(d0, f"t/{i % 5}", b"x", 0, 0, 1000 + i) for i in range(60)],
    ]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    import os
    import time

    now = time.time()
    for n, rows in enumerate(batches):
        p = str(input_dir / f"{n:03d}.parquet")
        spark.createDataFrame(rows, MESSAGE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (now - 60 + n, now - 60 + n))
        os.utime(p, (now - 60 + n, now - 60 + n))

    sink = HllRegisterSink(
        str(tmp_path / "state"), group_col="topic", key_col="event_id"
    )
    stream = message_file_stream(spark, str(input_dir) + "/*")
    q = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], MESSAGE_SCHEMA
    )
    want = {
        (r.grp, r.bucket, r.rho)
        for r in hll_registers(all_rows, "topic", "event_id").collect()
    }
    got = {
        (r.grp, r.bucket, r.rho) for r in sink.registers(spark).collect()
    }
    assert got == want and got

    # replaying a batch must not change the state (idempotent max-merge)
    sink.process_batch(
        spark.createDataFrame(batches[0], MESSAGE_SCHEMA), epoch_id=99
    )
    again = {
        (r.grp, r.bucket, r.rho) for r in sink.registers(spark).collect()
    }
    assert again == want


def test_cms_sink_exactly_once_under_replay(spark, tmp_path):
    """Additive CMS state + epoch ledger: streamed batches sum to the
    batch sketch of the union; replaying an epoch changes nothing."""
    import datetime as dt

    from mqtt2sql_spark.streaming.cms_sink import CountMinSink, cms_cells
    from mqtt2sql_spark.streaming.pipeline import (
        MESSAGE_SCHEMA,
        message_file_stream,
    )

    d0 = dt.datetime(2024, 1, 1)
    batches = [
        [(d0, f"t/{i % 4}", b"x", 0, 0, i) for i in range(30)],
        [(d0, f"t/{i % 7}", b"x", 0, 0, 500 + i) for i in range(50)],
    ]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    import os
    import time

    now = time.time()
    for n, rows in enumerate(batches):
        p = str(input_dir / f"{n:03d}.parquet")
        spark.createDataFrame(rows, MESSAGE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (now - 60 + n, now - 60 + n))
        os.utime(p, (now - 60 + n, now - 60 + n))

    sink = CountMinSink(str(tmp_path / "state"), key_col="topic")
    stream = message_file_stream(spark, str(input_dir) + "/*")
    q = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], MESSAGE_SCHEMA
    )
    want = {
        (r.i, r.bkt, r.c) for r in cms_cells(all_rows, "topic").collect()
    }
    got = {
        (r.i, r.bkt, r.c)
        for r in spark.read.parquet(str(tmp_path / "state")).collect()
    }
    assert got == want and got

    # replay epoch 0: ledger must suppress the double-add
    sink.process_batch(
        spark.createDataFrame(batches[0], MESSAGE_SCHEMA), epoch_id=0
    )
    again = {
        (r.i, r.bkt, r.c)
        for r in spark.read.parquet(str(tmp_path / "state")).collect()
    }
    assert again == want

    # point estimates upper-bound the true counts
    from collections import Counter

    true = Counter(t for b in batches for (_, t, *_rest) in b)
    keys = spark.createDataFrame([(k,) for k in true], "k string")
    est = {r.k: r.est_n for r in sink.estimate(spark, keys).collect()}
    for k, n in true.items():
        assert est[k] >= n


def test_stream_static_broadcast_enrichment(spark, staged, tmp_path):
    """Stream–static join: every micro-batch enriches against a static
    control dimension (the A8 routing shape in streaming form); the
    drained result equals the batch join, and the static side joins as
    a broadcast (no stateful join, no watermark needed)."""
    ctl = spark.createDataFrame(
        [("a", 1), ("b", 0), ("c", 1)],
        "topic string, history_enable int",
    )
    stream = message_file_stream(spark, str(staged) + "/*")
    enriched = stream.join(F.broadcast(ctl), "topic", "left")

    out = []
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    _drain(q)
    got = {
        (r.topic, r.event_id, r.history_enable)
        for r in spark.sql("SELECT topic, event_id, history_enable "
                           "FROM enrich_t").collect()
    }
    batch = spark.read.parquet(
        *[str(staged / f"slice_{i}.parquet") for i in range(3)]
    )
    want = {
        (r.topic, r.event_id, r.history_enable)
        for r in batch.join(ctl, "topic", "left")
        .select("topic", "event_id", "history_enable")
        .collect()
    }
    assert got == want


# --- MqttUpsertSink per-batch contract ---------------------------------------


def test_upsert_sink_reads_each_batch_once(spark, tmp_path):
    """The sink persists its micro-batch, so the source rows are computed
    once per batch: the progress' numInputRows, summed over the stream,
    equals the number of messages the source admitted."""
    from mqtt2sql_spark.sources.mqtt import MqttDataSource, memory_queue

    msgs = [(f"sensors/t{i % 7}", str(i % 3).encode(), 0, 0) for i in range(40)]
    msgs += [("status/up", b"1", 0, 0), ("sensors/skip", b"2", 0, 0)]

    class SeededMqtt(MqttDataSource):
        # the stream reader runs in its own Python worker: fill the memory
        # transport's queue in that process
        @classmethod
        def name(cls) -> str:
            return "mqtt_seeded"

        def simpleStreamReader(self, schema):
            memory_queue("once").extend(msgs)
            return super().simpleStreamReader(schema)

    spark.dataSource.register(SeededMqtt)
    stream = (
        spark.readStream.format("mqtt_seeded")
        .option("transport", "memory")
        .option("memoryKey", "once")
        .option("maxPerTrigger", "15")
        .option("excludeTopics", "sensors/skip")
        .load()
    )
    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    q = start_ingest(
        stream, sink, str(tmp_path / "ckpt"),
        subscribe_patterns=["sensors/#"], exclude_topics=["sensors/skip"],
    )
    _drain(q)

    admitted = len(msgs) - 1  # sensors/skip is excluded at the source
    assert sum(p["numInputRows"] for p in q.recentProgress) == admitted
    assert sink.current_mqtt().count() == 7


def _state(sink):
    mqtt = sorted(
        (r.id, r.topic, bytes(r.value), r.ts) for r in sink.current_mqtt().collect()
    )
    hist = sorted(
        (r.topicid, bytes(r.value), r.ts) for r in sink.history().collect()
    )
    return mqtt, hist


def test_upsert_sink_empty_batch_leaves_tables_unchanged(spark, tmp_path):
    """A batch whose messages are all filtered out still runs the merge;
    both tables' contents stay as they were."""
    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    sink.process_batch(_mk_messages(spark, [("a", 0, "x", 1), ("b", 1, "p", 2)]), 0)
    before = _state(sink)

    filtered = apply_filters(
        _mk_messages(spark, [("status/up", 5, "1", 3)]), subscribe_patterns=["a", "b"]
    )
    sink.process_batch(filtered, 1)
    assert _state(sink) == before
    sink.process_batch(filtered, 1)  # and under replay
    assert _state(sink) == before


def test_upsert_sink_replay_with_new_topics_keeps_ids(spark, tmp_path):
    """Replaying an epoch whose version was already published derives
    new topics' ids from the PRE-batch version's max(id): ids stay dense
    and equal to the first attempt's."""
    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    sink.process_batch(_mk_messages(spark, [("a", 0, "x", 1), ("b", 1, "p", 2)]), 0)
    b1 = _mk_messages(spark, [("b", 10, "q", 3), ("d", 11, "r", 4), ("c", 12, "s", 5)])
    sink.process_batch(b1, 1)
    first = _state(sink)
    sink.process_batch(b1, 1)  # replay: the pointer already names v1
    assert _state(sink) == first
    ids = {r.topic: r.id for r in sink.current_mqtt().collect()}
    assert ids == {"a": 1, "b": 2, "c": 3, "d": 4}

    sink.process_batch(_mk_messages(spark, [("e", 20, "t", 6)]), 2)
    ids = {r.topic: r.id for r in sink.current_mqtt().collect()}
    assert ids == {"a": 1, "b": 2, "c": 3, "d": 4, "e": 5}


def test_max_id_from_footers_requires_statistics(tmp_path):
    """max(id) comes from the footers' min/max statistics; a data file
    written without them fails loudly instead of restarting ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mqtt2sql_spark.sinks.upsert import max_id_from_footers

    t = pa.table({"id": pa.array([3, 9, 4], pa.int64())})
    pq.write_table(t, str(tmp_path / "with.parquet"))
    assert max_id_from_footers(str(tmp_path)) == 9
    pq.write_table(t, str(tmp_path / "without.parquet"), write_statistics=False)
    with pytest.raises(ValueError, match="min/max"):
        max_id_from_footers(str(tmp_path))


def test_upsert_sink_history_raises_on_corrupt_file(spark, tmp_path):
    """history() is empty before the first history file exists; after
    that, an unreadable file raises instead of reading as no history."""
    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    assert sink.history().collect() == []
    assert sink.history().columns == ["ts", "topicid", "value", "dt", "epoch"]

    sink.process_batch(_mk_messages(spark, [("a", 0, "x", 1)]), 0)
    assert sink.history().count() == 1
    files = list((tmp_path / "tables" / "mqtt_history").rglob("*.parquet"))
    assert files
    for f in files:
        f.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        sink.history().collect()
