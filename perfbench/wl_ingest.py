"""The ingest workload, ingest_drain: spool files → MqttDataSource →
apply_filters → MqttUpsertSink.process_batch, wired as
``python -m mqtt2sql_spark --transport file --topic sensors/#
--exclude-topic ...`` wires them.

Closed loop.  A seeded backlog over 2,000 topics is in the spool before
the stream starts; each micro-batch takes the next maxPerTrigger (the
daemon default, 10,000) messages only after the sink committed the
previous one.  The first WARM_BATCHES batches (every topic seeded in the
first) are set-up; the batches after them are timed.  Afterwards the
README view query (history ⋈ mqtt: change count and last change per
topic) is timed over the ingested tables, and both tables are compared
with the batch operators over the generated messages.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
from datetime import datetime

from harness import JobGroup, Run, median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from gen_messages import EXCLUDE, SUBSCRIPTION  # noqa: E402

MAX_PER_TRIGGER = 10_000  # the daemon's --max-per-trigger default
# the first batch runs 5-7x slower than steady state, and batch time keeps
# falling (2.2 s, 2.1 s, 2.0 s, ...) until about the sixth batch
WARM_BATCHES = 6
# timed batches per second of --seconds
DRAIN_BATCHES_PER_S = 0.5
# the view query's first runs are 1.2-2x slower than later ones
VIEW_WARM = 2
VIEW_REPEATS = 7


def _generator(run: Run, *args: str) -> subprocess.Popen:
    cmd = [sys.executable, os.path.join(HERE, "gen_messages.py"), *args,
           "--seed", str(run.seed), "--spool-dir", run.path("spool")]
    return subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)


def read_spool(spool_dir: str) -> list[tuple]:
    """Every spooled message, in the transport's (sorted file name) order."""
    msgs = []
    for name in sorted(os.listdir(spool_dir)):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(spool_dir, name)) as f:
            for line in f:
                topic, hexp, qos, retain = line.rstrip("\n").split("\t")
                msgs.append((topic, bytes.fromhex(hexp), int(qos),
                             int(retain)))
    return msgs


def _index(off) -> int:
    """The ``index`` of a source offset as the progress reports it."""
    if off is None:
        return 0
    m = re.search(r"index\D*(\d+)", str(off))
    return int(m.group(1))


def _end_index(p: dict) -> int:
    return _index(p["sources"][0]["endOffset"])


def _start_index(p: dict) -> int:
    return _index(p["sources"][0]["startOffset"])


def _trigger_start(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


class Ingest:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.spark = run.spark
        self.batch_end: dict[int, float] = {}
        self.batch_start: dict[int, float] = {}
        self.batch_jobs: dict[int, tuple[int, int]] = {}
        self.batch_files: dict[int, tuple[int, int, int]] = {}
        self.progress: dict[int, dict] = {}

        from mqtt2sql_spark.sinks.upsert import MqttUpsertSink
        from mqtt2sql_spark.sources.mqtt import MqttDataSource
        from mqtt2sql_spark.streaming.pipeline import apply_filters

        spark = self.spark
        spark.dataSource.register(MqttDataSource)
        reader = (
            spark.readStream.format("mqtt")
            .option("transport", "file")
            .option("maxPerTrigger", str(MAX_PER_TRIGGER))
            .option("timezone", "UTC")
            .option("keepalive", "60")
            .option("topics", SUBSCRIPTION)
            .option("excludeTopics", ",".join(EXCLUDE))
            .option("spoolDir", run.path("spool"))
        )
        t0 = time.time()
        stream = apply_filters(
            reader.load(),
            subscribe_patterns=[SUBSCRIPTION],
            exclude_topics=list(EXCLUDE),
        )
        run.tracer.add("apply_filters", "streaming", t0, time.time())
        self.storage = run.path("storage")
        self.sink = MqttUpsertSink(spark, self.storage)
        os.makedirs(run.path("spool"), exist_ok=True)
        self.writer = (
            stream.writeStream.foreachBatch(self._on_batch)
            .option("checkpointLocation", run.path("checkpoint"))
            .outputMode("update")
        )
        self.query = None

    # -- the sink call, timed from outside ---------------------------------

    def _on_batch(self, batch, epoch_id: int) -> None:
        t0 = time.time()
        if self.run.trace:
            with JobGroup(self.spark, f"batch-{epoch_id}") as g:
                self.sink.process_batch(batch, epoch_id)
            t1 = time.time()
            self.batch_jobs[epoch_id] = g.counts()
            self.batch_files[epoch_id] = self._written_files(epoch_id)
        else:
            self.sink.process_batch(batch, epoch_id)
            t1 = time.time()
        self.batch_start[epoch_id] = t0
        self.batch_end[epoch_id] = t1

    def _written_files(self, epoch_id: int) -> tuple[int, int, int]:
        """(files, bytes, mqtt rows) the batch wrote: the new mqtt version
        and the batch's history epoch partition, from the filesystem and
        the parquet footers."""
        import pyarrow.parquet as pq

        files = size = rows = 0
        mqtt_dir = os.path.join(self.storage, "mqtt", f"v{epoch_id:020d}")
        hist_dir = os.path.join(self.storage, "mqtt_history",
                                f"epoch={epoch_id}")
        for top in (mqtt_dir, hist_dir):
            for dirpath, _, names in os.walk(top):
                for n in names:
                    if n.endswith(".parquet"):
                        p = os.path.join(dirpath, n)
                        files += 1
                        size += os.path.getsize(p)
                        if top == mqtt_dir:
                            rows += pq.ParquetFile(p).metadata.num_rows
        return files, size, rows

    # -- stream control ----------------------------------------------------

    def start(self) -> None:
        self.query = self.writer.start()

    def _collect_progress(self) -> int:
        end = 0
        for p in self.query.recentProgress:
            if p["numInputRows"] or _end_index(p) > _start_index(p):
                self.progress[p["batchId"]] = p
            end = max(end, _end_index(p) if p["sources"] else 0)
        return end

    def wait_for_offset(self, target: int, timeout: float) -> int:
        """Wait until the committed source offset reaches ``target``, or
        the stream has sat idle for 2 s with no data available (messages
        the source lost never arrive); returns the offset reached."""
        deadline = time.time() + timeout
        idle_since = None
        while True:
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            end = self._collect_progress()
            if end >= target:
                return end
            st = self.query.status
            if st["isTriggerActive"] or st["isDataAvailable"]:
                idle_since = None
            elif idle_since is None:
                idle_since = time.time()
            elif time.time() - idle_since > 2.0:
                return end
            if time.time() > deadline:
                raise TimeoutError(f"offset {end} of {target} after {timeout} s")
            time.sleep(0.05)

    def stop(self) -> None:
        self._collect_progress()
        self.query.stop()

    # -- correctness ------------------------------------------------------

    def check(self, messages: list[tuple], admitted: int) -> dict:
        """Compare the sink's tables with the batch operators over the
        generated messages.  ``messages`` is every generated message in
        spool order; a message's stream offset is its position among the
        ones not excluded at the source."""
        from pyspark.sql import functions as F

        from mqtt2sql_spark.operators.history import history_rows
        from mqtt2sql_spark.operators.upsert import latest_per_key

        excl = set(EXCLUDE)
        rows = [m for m in messages if m[0] not in excl]
        expected = len(rows)
        lost = max(0, expected - admitted)
        duplicate = max(0, admitted - expected)
        spark = self.spark
        import pandas as pd

        frame = pd.DataFrame(rows, columns=["topic", "value", "qos", "retain"])
        frame["event_id"] = range(len(rows))
        msgs = spark.createDataFrame(
            frame,
            "topic string, value binary, qos int, retain int, event_id long",
        ).filter(F.col("topic").startswith(SUBSCRIPTION[:-1]))
        want_latest = latest_per_key(msgs, "topic", ("event_id",)).select(
            "topic", "value", "qos", "retain"
        )
        mqtt = self.sink.current_mqtt()
        got_latest = mqtt.select("topic", "value", "qos", "retain")
        latest_diff = (
            want_latest.exceptAll(got_latest).count()
            + got_latest.exceptAll(want_latest).count()
        )
        ids_ok = mqtt.select("id").distinct().count() == mqtt.count()
        control = mqtt.select("topic", "id", "history_enable",
                              "history_diffonly")
        want_hist = history_rows(
            msgs.withColumn("value_str", F.col("value").cast("string")),
            control, value_col="value_str", order=("event_id",),
        ).select("topicid", "value")
        got_hist = self.sink.history().select("topicid", "value")
        missing = want_hist.exceptAll(got_hist).count()
        extra = got_hist.exceptAll(want_hist).count()
        hist_rows = got_hist.count()
        duplicate += extra
        wrong = latest_diff + (0 if lost else missing) + (0 if ids_ok else 1)
        return {
            "attempted": len(messages),
            "failed": lost + duplicate + wrong,
            "correct": lost == 0 and duplicate == 0 and wrong == 0,
            "lost_msgs": lost,
            "duplicate_msgs": duplicate,
            "history_rows": hist_rows,
            "admitted": admitted,
        }

    # -- the README view query ----------------------------------------------

    def view_query(self) -> tuple[float, int]:
        """history ⋈ current mqtt: history row count and last change per
        topic.  Returns (median seconds over VIEW_REPEATS runs after
        VIEW_WARM untimed ones, history rows the result accounts for)."""
        from pyspark.sql import functions as F

        times = []
        for i in range(VIEW_WARM + VIEW_REPEATS):
            t0 = time.time()
            h = self.sink.history()
            m = self.sink.current_mqtt()
            q = (
                h.join(m, h.topicid == m.id)
                .groupBy(m.topic)
                .agg(F.count(F.lit(1)).alias("changes"),
                     F.max(h.ts).alias("last_change"))
            )
            q.write.format("noop").mode("overwrite").save()
            t1 = time.time()
            if i >= VIEW_WARM:
                times.append(t1 - t0)
                self.run.tracer.add("view_query", "sinks", t0, t1,
                                    ref=f"view-{i}")
        total = q.agg(F.sum("changes")).collect()[0][0] or 0
        return median(times), int(total)

    # -- per-layer numbers from the progress and the batch hooks ------------

    def layer_metrics(self, timed: list[int], by_offset: list[tuple],
                      result: dict) -> dict[str, float]:
        """Per-layer numbers over the timed batches ``timed``, from the
        streaming progress and the process_batch hook."""
        prog = [self.progress[b] for b in timed]
        dur = lambda k: median(p["durationMs"].get(k, 0) for p in prog)
        admitted = result["admitted"]
        out = {
            "sources.latest_offset_ms": dur("latestOffset"),
            # the whole backlog is written before the stream starts
            "sources.backlog_max_msgs": max(
                len(by_offset) - _end_index(p) for p in prog
            ),
            "sources.rows_read_per_msg": sum(
                p["numInputRows"] for p in self.progress.values()
            ) / max(1, admitted),
            "sources.lost_msgs": result["lost_msgs"],
            "sources.duplicate_msgs": result["duplicate_msgs"],
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "sinks.process_batch_s": median(
                self.batch_end[b] - self.batch_start[b] for b in timed
            ),
            "sinks.history_rows_per_msg": result["history_rows"]
            / max(1, admitted),
            "sinks.history_files": sum(
                n.endswith(".parquet")
                for _, _, names in os.walk(
                    os.path.join(self.storage, "mqtt_history"))
                for n in names
            ),
        }
        if self.run.trace:
            jobs = [self.batch_jobs[b] for b in timed]
            files = [self.batch_files[b] for b in timed]
            out["sinks.jobs_per_batch"] = median(j for j, _ in jobs)
            out["sinks.tasks_per_batch"] = median(t for _, t in jobs)
            out["sinks.files_written_per_batch"] = median(f for f, _, _ in files)
            out["sinks.bytes_written_per_batch"] = median(b for _, b, _ in files)
            ratios = []
            for b, (_, _, mqtt_rows) in zip(timed, files):
                p = self.progress[b]
                touched = {
                    by_offset[i][0]
                    for i in range(_start_index(p), _end_index(p))
                    if by_offset[i][0].startswith(SUBSCRIPTION[:-1])
                }
                ratios.append(mqtt_rows / max(1, len(touched)))
            out["sinks.rewrite_ratio"] = median(ratios)
        return out

    def trace_spans(self) -> None:
        """Streaming spans from the progress: trigger → its phases, with
        the sink's process_batch under addBatch."""
        tr = self.run.tracer
        for b, p in sorted(self.progress.items()):
            start = _trigger_start(p)
            d = p["durationMs"]
            trig = tr.add("trigger", "streaming", start,
                          start + d.get("triggerExecution", 0) / 1e3,
                          ref=str(b))
            t = start
            for phase in ("latestOffset", "queryPlanning", "walCommit"):
                ms = d.get(phase, 0) / 1e3
                layer = "sources" if phase == "latestOffset" else "streaming"
                tr.add(phase, layer, t, t + ms, parent=trig, ref=str(b))
                t += ms
            add = tr.add("addBatch", "streaming", t,
                         t + d.get("addBatch", 0) / 1e3, parent=trig,
                         ref=str(b))
            if b in self.batch_start:
                tr.add("process_batch", "sinks", self.batch_start[b],
                       self.batch_end[b], parent=add, ref=str(b))


# -- the workload ------------------------------------------------------------


def start_inputs(run: Run) -> subprocess.Popen:
    """Start writing the backlog (the generator runs while the session
    starts): WARM_BATCHES set-up batches, then the timed batches."""
    timed_batches = max(2, round(run.seconds * DRAIN_BATCHES_PER_S))
    total = MAX_PER_TRIGGER * (WARM_BATCHES + timed_batches)
    return _generator(run, "--messages", str(total))


def run_drain(run: Run, gen: subprocess.Popen) -> dict:
    out, _ = gen.communicate()
    if gen.returncode != 0:
        raise RuntimeError(f"generator failed ({gen.returncode})")
    ing = Ingest(run)
    generated = read_spool(run.path("spool"))
    by_offset = [m for m in generated if m[0] not in EXCLUDE]
    # every poll takes exactly MAX_PER_TRIGGER messages (whole files):
    # the warm-up ends at the offset of message WARM_BATCHES * MAX_PER_TRIGGER
    warm_end = sum(
        m[0] not in EXCLUDE for m in generated[:WARM_BATCHES * MAX_PER_TRIGGER]
    )
    ing.start()
    if ing.wait_for_offset(warm_end, timeout=120) < warm_end:
        raise RuntimeError("the warm-up batches did not complete")
    reached = ing.wait_for_offset(len(by_offset), timeout=150)
    ing.stop()
    warm = sorted(b for b, p in ing.progress.items() if _end_index(p) <= warm_end)
    timed = sorted(b for b in ing.progress if b not in warm)
    t_start = max(ing.batch_end[b] for b in warm)
    view_s, view_rows = ing.view_query()
    result = ing.check(generated, reached)
    if view_rows != result["history_rows"]:
        result["failed"] += 1
        result["correct"] = False
    layers = ing.layer_metrics(timed, by_offset, result)
    ing.trace_spans()
    # each batch's cycle: from the previous batch's commit to its own
    cycle = {b: ing.batch_end[b] - ing.batch_end[a]
             for a, b in zip([warm[-1]] + timed, timed)}
    return {
        "setup_end": t_start,
        "e2e": {
            "throughput_per_s": median(
                (_end_index(ing.progress[b]) - _start_index(ing.progress[b]))
                / cycle[b] for b in timed
            ),
            "view_query_s": view_s,
        },
        "layers": layers,
        "check": result,
        "groups": {"sinks": [f"batch-{b}" for b in timed]},
        "notes": {"timed_batches": len(timed),
                  "timed_msgs": reached - warm_end,
                  "generator": json.loads(out.strip().splitlines()[-1])},
    }
