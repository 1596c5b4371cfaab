"""End-to-end: MQTT source (file-spool transport) → filters → upsert sink.

The complete reference pipeline shape (SURVEY.md §3.1) in one streaming
query: subscribe → exclude → project → keyed upsert + diff-only history.
"""

import sqlite3


def test_mqtt_to_tables_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from mqtt2sql_spark.sinks.upsert import MqttUpsertSink
    from mqtt2sql_spark.sources.mqtt import MqttDataSource

    spark.dataSource.register(MqttDataSource)
    spool = tmp_path / "spool"
    spool.mkdir()
    lines = [
        f"sensors/kitchen/temp\t{b'21.5'.hex()}\t0\t0",
        f"sensors/attic/temp\t{b'18.0'.hex()}\t0\t0",
        f"sensors/kitchen/temp\t{b'21.5'.hex()}\t0\t0",   # dup → diffonly drop
        f"sensors/kitchen/temp\t{b'22.0'.hex()}\t0\t0",   # change → history
        f"noise/ignore\t{b'zz'.hex()}\t0\t0",             # excluded
    ]
    (spool / "000.msg").write_text("\n".join(lines) + "\n")

    stream = (
        spark.readStream.format("mqtt")
        .option("transport", "file")
        .option("spoolDir", str(spool))
        .option("excludeTopics", "noise/ignore")
        .load()  # the source emits event_id = WAL arrival sequence
    )
    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    q = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    mqtt = {r.topic: bytes(r.value) for r in sink.current_mqtt().collect()}
    assert mqtt == {
        "sensors/kitchen/temp": b"22.0",
        "sensors/attic/temp": b"18.0",
    }
    hist = [
        (r.topicid, bytes(r.value))
        for r in sink.history().orderBy("ts", "topicid").collect()
    ]
    # kitchen: 21.5 then 22.0 (dup suppressed); attic: 18.0
    assert sorted(hist) == sorted(
        [(1, b"21.5"), (1, b"22.0"), (2, b"18.0")]
    ) or sorted(hist) == sorted([(2, b"21.5"), (2, b"22.0"), (1, b"18.0")])
    assert len(hist) == 3


def test_sqlite_sink_from_stream(spark, tmp_path):
    from pyspark.sql import functions as F

    from mqtt2sql_spark.sinks.jdbc import SqliteUpsertSink
    from mqtt2sql_spark.sources.mqtt import MqttDataSource

    spark.dataSource.register(MqttDataSource)
    spool = tmp_path / "spool"
    spool.mkdir()
    (spool / "000.msg").write_text(
        f"home/t\t{b'1'.hex()}\t0\t0\nhome/t\t{b'2'.hex()}\t0\t0\n"
    )
    stream = (
        spark.readStream.format("mqtt")
        .option("transport", "file")
        .option("spoolDir", str(spool))
        .load()
    )
    db = str(tmp_path / "mqtt.db")
    sink = SqliteUpsertSink(db)
    q = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    with sqlite3.connect(db) as con:
        rows = con.execute("SELECT topic, value FROM mqtt").fetchall()
    assert rows == [("home/t", b"2")]


def test_sql_surface_history_view(spark):
    """The reference's product surface is SQL over mqtt_history_view
    (README.md:228-235) — the engine exposes the same via temp views."""
    from mqtt2sql_spark.fixtures import create_views
    from tests.conftest import SF_DIR

    create_views(spark, SF_DIR)
    rows = spark.sql(
        """
        SELECT topic, count(*) AS n, max(ts_last) AS last_change
        FROM mqtt_history_view
        WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
        GROUP BY topic ORDER BY n DESC, topic LIMIT 5
        """
    ).collect()
    assert len(rows) == 5 and all(r.n > 0 for r in rows)


def test_checkpoint_recovery_resumes_without_duplicates(spark, tmp_path):
    """Stop a stream mid-input, restart with the same checkpoint: the
    second run must process only the unseen file and converge to the
    same tables as one uninterrupted run (at-least-once + idempotent
    merge — the upgrade over the reference's QoS-0, SURVEY.md §4.3)."""
    import datetime as dt

    from mqtt2sql_spark.sinks.upsert import MqttUpsertSink
    from mqtt2sql_spark.streaming.pipeline import (
        MESSAGE_SCHEMA,
        message_file_stream,
        start_ingest,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()

    def write(name, rows):
        spark.createDataFrame(
            [
                (dt.datetime(2024, 1, 1, 10, 0, s), t, v.encode(), 0, 0, e)
                for t, s, v, e in rows
            ],
            MESSAGE_SCHEMA,
        ).coalesce(1).write.parquet(str(input_dir / name))

    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    ckpt = str(tmp_path / "ckpt")

    write("000.parquet", [("a", 0, "v1", 1), ("b", 1, "w1", 2)])
    q = start_ingest(
        message_file_stream(spark, str(input_dir) + "/*"), sink, ckpt
    )
    q.processAllAvailable()
    q.stop()

    # new file arrives while the query is down; b repeats its value
    write(
        "001.parquet",
        [("a", 10, "v2", 3), ("c", 11, "x1", 4), ("b", 12, "w1", 5)],
    )
    q2 = start_ingest(
        message_file_stream(spark, str(input_dir) + "/*"), sink, ckpt
    )
    q2.processAllAvailable()
    q2.stop()

    mqtt = {
        r.topic: (bytes(r.value).decode(), r.ts.second)
        for r in sink.current_mqtt().collect()
    }
    # the repeat still upserts b's timestamp
    assert mqtt == {"a": ("v2", 10), "b": ("w1", 12), "c": ("x1", 11)}
    hist = [bytes(r.value).decode() for r in sink.history().collect()]
    # no duplicates from the restart: v1,w1 from run 1; v2,x1 from run 2.
    # b's unchanged repeat adds no row: the diff-only seed is the pre-batch
    # mqtt table, which the restart reads back from storage
    assert sorted(hist) == ["v1", "v2", "w1", "x1"]


def test_history_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running process_batch with the
    SAME epoch must leave mqtt AND mqtt_history unchanged (epoch-partition
    overwrite + pre-batch seed; ADVICE r01 #1)."""
    import datetime as dt

    from mqtt2sql_spark.sinks.upsert import MqttUpsertSink
    from mqtt2sql_spark.streaming.pipeline import MESSAGE_SCHEMA

    def batch(rows):
        return spark.createDataFrame(
            [
                (dt.datetime(2024, 1, 1, 10, 0, s), t, v.encode(), 0, 0, e)
                for t, s, v, e in rows
            ],
            MESSAGE_SCHEMA,
        )

    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    b0 = batch([("a", 0, "v1", 1), ("a", 1, "v2", 2), ("b", 2, "w1", 3)])
    sink.process_batch(b0, 0)
    sink.process_batch(b0, 0)  # replay epoch 0

    hist = sorted(bytes(r.value).decode() for r in sink.history().collect())
    assert hist == ["v1", "v2", "w1"]  # no duplicate appends

    # epoch 1 repeats a's latest value (diffonly suppression) + changes b;
    # the replay must also re-derive the SAME suppression: the diff seed
    # comes from the PRE-batch table even when the pointer already moved
    b1 = batch([("a", 10, "v2", 4), ("b", 11, "w2", 5)])
    sink.process_batch(b1, 1)
    after_first = sorted(bytes(r.value).decode() for r in sink.history().collect())
    sink.process_batch(b1, 1)  # replay epoch 1
    after_replay = sorted(bytes(r.value).decode() for r in sink.history().collect())
    assert after_first == after_replay == ["v1", "v2", "w1", "w2"]

    mqtt = {r.topic: bytes(r.value).decode() for r in sink.current_mqtt().collect()}
    assert mqtt == {"a": "v2", "b": "w2"}
    # sticky ids survive the replay
    ids = {r.topic: r.id for r in sink.current_mqtt().collect()}
    assert sorted(ids.values()) == [1, 2]


def test_cli_daemon_from_config_file(tmp_path):
    """`python -m mqtt2sql_spark -c my.conf --once`: the reference-style
    config file drives the daemon end-to-end (B1, mqtt2sql.conf grammar)."""
    import subprocess
    import sys
    from pathlib import Path

    spool = tmp_path / "spool"
    spool.mkdir()
    (spool / "000.msg").write_text(
        "tele/dev1\t" + b"on".hex() + "\t0\t0\n"
        "debug/x\t" + b"zz".hex() + "\t0\t0\n"
    )
    conf = tmp_path / "my.conf"
    conf.write_text(
        f"""\
# reference-grammar config (mqtt2sql.conf:1-88)
[MQTT]
mqtt-exclude-topic = [debug/x]

[SQL]
sql-timezone = UTC

[DAEMON]
transport = file
spool-dir = {spool}
storage-dir = {tmp_path / "tables"}
checkpoint-dir = {tmp_path / "ckpt"}
once
"""
    )
    repo = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, "-m", "mqtt2sql_spark", "-c", str(conf)],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    import duckdb

    ptr = (tmp_path / "tables" / "mqtt" / "_CURRENT").read_text().strip()
    rows = duckdb.connect().execute(
        "SELECT topic, decode(value) FROM "
        f"'{tmp_path}/tables/mqtt/{ptr}/*.parquet' ORDER BY topic"
    ).fetchall()
    assert rows == [("tele/dev1", "on")]


def test_cli_daemon_once_drains_spool(tmp_path):
    """`python -m mqtt2sql_spark --once` end-to-end: spool → mqtt table
    (the reference's daemon surface, batch-catchup mode)."""
    import subprocess
    import sys
    from pathlib import Path

    spool = tmp_path / "spool"
    spool.mkdir()
    lines = [
        "sensors/1\t" + b'{"t": 1}'.hex() + "\t0\t0",
        "sensors/1\t" + b'{"t": 2}'.hex() + "\t0\t0",
        "sensors/2\t" + b'{"h": 9}'.hex() + "\t1\t0",
        "debug/x\t" + b"noise".hex() + "\t0\t0",
    ]
    (spool / "000.msg").write_text("\n".join(lines) + "\n")

    repo = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [
            sys.executable, "-m", "mqtt2sql_spark",
            "--transport", "file",
            "--spool-dir", str(spool),
            "--storage-dir", str(tmp_path / "tables"),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--exclude-topic", "debug/x",
            "--once",
        ],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    import duckdb

    con = duckdb.connect()
    ptr = (tmp_path / "tables" / "mqtt" / "_CURRENT").read_text().strip()
    rows = con.execute(
        "SELECT topic, decode(value) FROM "
        f"'{tmp_path}/tables/mqtt/{ptr}/*.parquet' ORDER BY topic"
    ).fetchall()
    topics = [r[0] for r in rows]
    assert topics == ["sensors/1", "sensors/2"]  # excluded topic absent
    assert rows[0][1] == '{"t": 2}'  # latest value won the upsert


def test_pipeline_capstone_filters_diffonly_spool_compact(spark, tmp_path):
    """End-to-end on the daemon's path: file stream -> start_ingest
    (subscription filter) -> MqttUpsertSink.  History must hold the batch
    semantics across micro-batches (diff-only run-length encoding per
    topic) and the unsubscribed topic must reach neither table.  Spool
    commit and compaction are covered by tests/test_spool_sink.py."""
    import datetime as dt

    from mqtt2sql_spark.sinks.upsert import MqttUpsertSink
    from mqtt2sql_spark.streaming.pipeline import (
        MESSAGE_SCHEMA,
        message_file_stream,
        start_ingest,
    )

    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    slices = [
        [("s/a", 0, "x", 1), ("s/b", 1, "p", 2), ("noise", 2, "z", 3)],
        [("s/a", 10, "x", 4), ("s/b", 11, "q", 5), ("noise", 12, "z", 6)],
        [("s/a", 20, "y", 7), ("s/b", 21, "q", 8)],
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate(slices):
        spark.createDataFrame(
            [
                (base + dt.timedelta(seconds=o), t, v.encode(), 0, 0, e)
                for t, o, v, e in rows
            ],
            MESSAGE_SCHEMA,
        ).coalesce(1).write.mode("overwrite").parquet(
            str(in_dir / f"s{i}.parquet")
        )

    sink = MqttUpsertSink(spark, str(tmp_path / "tables"))
    q = start_ingest(
        message_file_stream(spark, str(in_dir) + "/*"),
        sink,
        str(tmp_path / "ckpt"),
        subscribe_patterns=["s/#"],
    )
    q.processAllAvailable()
    q.stop()

    ids = {r.topic: r.id for r in sink.current_mqtt().collect()}
    assert sorted(ids) == ["s/a", "s/b"]  # noise never subscribed
    topic_of = {i: t for t, i in ids.items()}
    got = [
        (topic_of[r.topicid], bytes(r.value).decode())
        for r in sink.history().orderBy("ts").collect()
    ]
    # diffonly per topic: a: x,x,y -> x,y ; b: p,q,q -> p,q
    assert [v for t, v in got if t == "s/a"] == ["x", "y"]
    assert [v for t, v in got if t == "s/b"] == ["p", "q"]
    assert len(got) == 4
