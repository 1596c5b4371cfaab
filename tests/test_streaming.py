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
            ["topic"],
            "v",
        )
        if state_root.exists():
            versions = sorted(os.listdir(state_root))
            if versions:
                prev = spark.read.parquet(str(state_root / versions[-1]))
                regs = (
                    prev.unionByName(regs)
                    .groupBy("topic", "bucket")
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
        (r["topic"], r["bucket"], r["rho"])
        for r in spark.read.parquet(
            str(state_root / final_version)
        ).collect()
    }
    all_msgs = spark.read.schema(MESSAGE_SCHEMA).parquet(str(staged) + "/*")
    want = {
        (r["topic"], r["bucket"], r["rho"])
        for r in hll_registers(
            all_msgs.select(
                "topic", F.col("value").cast("string").alias("v")
            ),
            ["topic"],
            "v",
        ).collect()
    }
    assert got == want and len(got) > 0


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


def test_upsert_sink_failed_history_write_keeps_pointer_and_replays(
    spark, tmp_path, monkeypatch
):
    """The history write and the version write run concurrently; when the
    history write raises, process_batch raises, _CURRENT still names the
    previous version, and replaying the epoch leaves both tables equal to
    a clean run."""
    b0 = _mk_messages(spark, [("a", 0, "x", 1), ("b", 1, "p", 2)])
    b1 = _mk_messages(spark, [("a", 10, "y", 3), ("c", 11, "q", 4), ("a", 12, "y", 5)])
    clean = MqttUpsertSink(spark, str(tmp_path / "clean"))
    clean.process_batch(b0, 0)
    clean.process_batch(b1, 1)

    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    sink.process_batch(b0, 0)
    pointer = (tmp_path / "tables" / "mqtt" / "_CURRENT").read_text()
    mqtt_before, _ = _state(sink)
    write_history = sink._write_history

    def fail_after_partial_write(df, epoch_id):
        write_history(df.limit(1), epoch_id)  # an attempt that got part-way
        raise RuntimeError("history write failed")

    monkeypatch.setattr(sink, "_write_history", fail_after_partial_write)
    with pytest.raises(RuntimeError, match="history write failed"):
        sink.process_batch(b1, 1)
    assert (tmp_path / "tables" / "mqtt" / "_CURRENT").read_text() == pointer
    assert _state(sink)[0] == mqtt_before

    monkeypatch.undo()
    sink.process_batch(b1, 1)  # foreachBatch replays the failed epoch
    assert _state(sink) == _state(clean)


def test_upsert_sink_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Every job process_batch starts, including those of the write that
    runs on a second thread, carries the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    sink.process_batch(_mk_messages(spark, [("a", 0, "x", 1)]), 0)

    def marker_jobs(group):
        sc.setJobGroup(group, group)
        spark.range(1).count()
        return tracker.getJobIdsForGroup(group)

    try:
        first = max(marker_jobs("before-sink"))
        sc.setJobGroup("g", "sink batch")
        sink.process_batch(
            _mk_messages(spark, [("a", 10, "y", 2), ("b", 11, "p", 3)]), 1
        )
        last = min(marker_jobs("after-sink"))
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)

    during = set(range(first + 1, last))
    assert during  # the batch ran jobs
    assert during <= set(tracker.getJobIdsForGroup("g"))
