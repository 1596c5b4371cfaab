"""Event-time windows over the replayed message stream: a watermark
closes tumbling windows, and the stream's per-window aggregate equals the
batch computation over the same messages."""

import datetime as dt

from mqtt2sql_spark.streaming.pipeline import MESSAGE_SCHEMA, message_file_stream


def test_streaming_ohlc_matches_batch(spark, tmp_path):
    """Streaming OHLC twin: open/close via min_by/max_by on the total
    order (ts, event_id) inside a tumbling event-time window must equal
    the batch operator's ranking-window formulation when the stream
    drains the same messages."""
    import os
    import time

    import pyspark.sql.functions as F

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    now = time.time()
    rows0 = [("click", 0.0, 5, 1.0), ("click", 0.2, 10, 3.0),
             ("view", 0.5, 7, 2.0)]
    rows1 = [("click", 0.7, 2, 9.0), ("view", 1.3, 11, 4.0)]

    def _slice(path, rows, mtime):
        spark.createDataFrame(
            [
                (
                    dt.datetime(2024, 1, 1) + dt.timedelta(hours=h),
                    t,
                    str(v).encode(),
                    0,
                    0,
                    e,
                )
                for t, h, e, v in rows
            ],
            MESSAGE_SCHEMA,
        ).coalesce(1).write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    _slice(str(input_dir / "000.parquet"), rows0, now - 120)
    _slice(str(input_dir / "001.parquet"), rows1, now - 60)
    # watermark pusher: hour-5 event advances the watermark to 4 h,
    # closing (and emitting) the hour-0 and hour-1 windows; its own
    # window stays open and must NOT be emitted
    pusher = [("click", 5.0, 99, 0.5)]
    _slice(str(input_dir / "002.parquet"), pusher, now - 30)

    stream = message_file_stream(spark, str(input_dir) + "/*").withColumn(
        "value_num", F.col("value").cast("string").cast("double")
    )
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.col("topic"), F.window("ts", "1 hour").alias("w"))
        .agg(
            F.min_by("value_num", ordkey).alias("open"),
            F.max("value_num").alias("high"),
            F.min("value_num").alias("low"),
            F.max_by("value_num", ordkey).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("ohlc_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.topic, r.w.start): (r.open, r.high, r.low, r.close, r.n_events)
        for r in spark.sql("SELECT * FROM ohlc_stream").collect()
    }
    # batch truth over the union of both slices
    all_rows = rows0 + rows1
    expect = {}
    for t, h, e, v in sorted(all_rows, key=lambda r: (r[0], r[1], r[2])):
        hour = dt.datetime(2024, 1, 1) + dt.timedelta(hours=int(h))
        key = (t, hour)
        if key not in expect:
            expect[key] = (v, v, v, v, 1)
        else:
            o, hi, lo, c, n = expect[key]
            expect[key] = (o, max(hi, v), min(lo, v), v, n + 1)
    # append mode only emits windows the watermark has closed: exactly
    # the hour-0 and hour-1 windows, matching batch truth; the pusher's
    # own (still-open) window must be absent
    closed = {k: v for k, v in expect.items()
              if k[1] < dt.datetime(2024, 1, 1, 2)}
    assert got == closed
