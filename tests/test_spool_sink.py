"""Spool loopback: the MQTT source's output re-spooled in the format the
file-spool transport reads."""

import os


def test_mqtt_source_to_spool_sink_loopback(spark, tmp_path):
    """The MQTT source (file-spool transport) streams through Spark into
    a per-epoch spool writer (temp file under '.inprogress/', renamed on
    commit, one '_manifest' line per epoch), and a second
    FileSpoolTransport drains exactly the source's messages back from it:
    one bridge hop (ingest → Spark → re-spool) with qos and retain kept
    and the writer's metadata never read as messages."""
    from mqtt2sql_spark.sources.mqtt import FileSpoolTransport, MqttDataSource

    spark.dataSource.register(MqttDataSource)

    src_spool = tmp_path / "in"
    src_spool.mkdir()
    (src_spool / "000.msg").write_text(
        f"tele/a\t{b'1'.hex()}\t0\t0\n" f"tele/b\t{b'2'.hex()}\t1\t1\n"
    )
    out = tmp_path / "out"
    (out / ".inprogress").mkdir(parents=True)

    def respool(batch, epoch):
        rows = batch.collect()
        if not rows:
            return
        name = f"{epoch:06d}.msg"
        tmp = out / ".inprogress" / name
        tmp.write_text(
            "".join(
                f"{r.topic}\t{bytes(r.value).hex()}\t{r.qos}\t{r.retain}\n"
                for r in rows
            )
        )
        os.replace(tmp, out / name)
        with open(out / "_manifest", "a") as f:
            f.write(f"{epoch}\t{name}\t{len(rows)}\n")

    q = (
        spark.readStream.format("mqtt")
        .option("transport", "file")
        .option("spoolDir", str(src_spool))
        .load()
        .writeStream.foreachBatch(respool)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    t = FileSpoolTransport(str(out))
    t.connect()
    msgs = t.poll(10)
    assert sorted(msgs) == [("tele/a", b"1", 0, 0), ("tele/b", b"2", 1, 1)]
    manifest = (out / "_manifest").read_text().splitlines()
    assert sum(int(ln.split("\t")[2]) for ln in manifest) == 2
