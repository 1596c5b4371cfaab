"""Upsert sink: maintains the `mqtt` latest-value table + CDC history from
a stream of message micro-batches (SURVEY.md §2 A5/A8-A10, §4.2 #2-3).

The reference upserts row-by-row with ON DUPLICATE KEY UPDATE and lets DB
triggers derive history (/root/reference/mqtt2sql.py:579-629,
mysql.sql:66-91).  The Spark-first equivalent is a `foreachBatch` MERGE.

Per micro-batch, each input is read once and no probe job runs:

  * the batch is persisted on entry and unpersisted in a `finally`; the
    source's rows are computed by the first write and every later use
    (the latest-per-topic collapse, the history rows, the publish) reads
    the cached copy;
  * the pre-batch `mqtt` version (current_mqtt(before_epoch=e)) is read
    with MQTT_SCHEMA — no schema inference — and its max(id) comes from
    the parquet footers' min/max statistics of that version, not from an
    aggregate job (a footer without them fails the batch loudly);
  * ONE full-outer merge of that version with the batch's latest row per
    topic yields `merged`: payload columns from the newer side, id and
    history flags sticky (mqtt2sql.py:581: ON DUPLICATE KEY UPDATE
    rewrites only the payload columns), ids for unseen topics as
    max(id) + dense rank by topic (mysql.sql:70 trigger).  The same
    frame is the published version and, with the pre-batch value carried
    along as the diff-only seed, the broadcast dimension of the history
    rows — so diff-only semantics hold across micro-batch boundaries
    without a second read of the pre-batch version or a state store;
  * history rows = operators/history.history_rows, the batch operator
    (enabled messages, minus consecutive-duplicate values when diffonly),
    with its lag over the batch seeded by the pre-batch value.

An empty batch (every message filtered out) runs the same plan: it
publishes a version equal to the previous one and an empty history
epoch, so both tables' contents stay unchanged.

Storage is versioned parquet directories with an atomic _CURRENT pointer
(a poor man's table format; swap for Delta/Iceberg MERGE INTO when the
runtime has the jars — the call sites keep the same shape).  History is
parquet laid out as mqtt_history/epoch=<e>/dt=<date(ts)>/ — date for
partition pruning on time-range queries (SURVEY.md §7.1 M6), epoch so a
replayed micro-batch replaces its own rows: each batch writes its
history straight into its epoch directory in overwrite mode, which
deletes whatever an earlier attempt of the same epoch left there.
Combined with reading the pre-batch mqtt version (never the one the
replayed epoch may already have published), every foreachBatch replay
is a deterministic function of (pre-batch state, batch): at-least-once
delivery converges for BOTH tables.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.history import history_rows
from mqtt2sql_spark.operators.upsert import latest_per_key

MQTT_SCHEMA = (
    "id long, ts timestamp, topic string, value binary, qos int, "
    "retain int, history_enable int, history_diffonly int"
)
HISTORY_SCHEMA = "ts timestamp, topicid long, value binary, dt date, epoch long"


def _parquet_files(top: str):
    for dirpath, _, names in os.walk(top):
        for n in names:
            if n.endswith(".parquet"):
                yield os.path.join(dirpath, n)


def max_id_from_footers(path: str) -> int:
    """max(id) of the parquet table at ``path`` from its footers' column
    statistics (0 for an empty table); raises when a non-empty row group
    carries no min/max for ``id``."""
    best = 0
    for f in _parquet_files(path):
        md = pq.read_metadata(f)
        idx = md.schema.to_arrow_schema().get_field_index("id")
        for rg in range(md.num_row_groups):
            if md.row_group(rg).num_rows == 0:
                continue
            stats = md.row_group(rg).column(idx).statistics
            if stats is None or not stats.has_min_max:
                raise ValueError(f"{f}: row group {rg} has no min/max for id")
            best = max(best, stats.max)
    return best


class MqttUpsertSink:
    """foreachBatch target maintaining mqtt + mqtt_history under base_dir."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        default_enable: int = 1,
        default_diffonly: int = 1,
    ) -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.default_enable = default_enable
        self.default_diffonly = default_diffonly
        os.makedirs(os.path.join(base_dir, "mqtt"), exist_ok=True)
        os.makedirs(os.path.join(base_dir, "mqtt_history"), exist_ok=True)

    # -- table plumbing ----------------------------------------------------

    def _pointer(self) -> str:
        return os.path.join(self.base_dir, "mqtt", "_CURRENT")

    def _version_path(self, before_epoch: int | None = None) -> str | None:
        """Directory of the version current_mqtt reads, or None."""
        ptr = self._pointer()
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            version = f.read().strip()
        if before_epoch is not None:
            prior = [
                d
                for d in os.listdir(os.path.join(self.base_dir, "mqtt"))
                if d.startswith("v") and int(d[1:]) < before_epoch
            ]
            if not prior:
                return None
            version = max(prior)
        return os.path.join(self.base_dir, "mqtt", version)

    def current_mqtt(self, before_epoch: int | None = None) -> DataFrame | None:
        """Latest published `mqtt` version; with ``before_epoch``, the
        latest version written by an epoch STRICTLY BELOW it.  foreachBatch
        is at-least-once — on replay of epoch e the pointer may already
        name v{e} (the post-batch state), and seeding the merge/diff from
        it would double-apply the batch.  Reading the pre-batch version
        makes the whole batch (merge + history) a deterministic function
        of (pre-batch state, batch), i.e. idempotent under replay."""
        path = self._version_path(before_epoch)
        if path is None:
            return None
        return self.spark.read.schema(MQTT_SCHEMA).parquet(path)

    def history(self) -> DataFrame:
        """mqtt_history (ts, topicid, value, dt, epoch); empty until the
        first history data file exists."""
        path = os.path.join(self.base_dir, "mqtt_history")
        if next(_parquet_files(path), None) is None:
            return self.spark.createDataFrame([], HISTORY_SCHEMA)
        return self.spark.read.schema(HISTORY_SCHEMA).parquet(path)

    def _publish_mqtt(self, df: DataFrame, epoch_id: int) -> None:
        version = f"v{epoch_id:020d}"
        out = os.path.join(self.base_dir, "mqtt", version)
        df.write.mode("overwrite").parquet(out)
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, self._pointer())  # atomic pointer swap
        # retire older versions (keep previous for readers in flight)
        versions = sorted(
            d
            for d in os.listdir(os.path.join(self.base_dir, "mqtt"))
            if d.startswith("v")
        )
        for old in versions[:-2]:
            shutil.rmtree(
                os.path.join(self.base_dir, "mqtt", old), ignore_errors=True
            )

    # -- the merge ---------------------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """batch: (ts, topic, value, qos, retain, event_id)."""
        batch = batch.persist()
        try:
            self._merge(batch, epoch_id)
        finally:
            batch.unpersist()

    def _merge(self, batch: DataFrame, epoch_id: int) -> None:
        # pre-batch state, even under replay (see current_mqtt docstring)
        prev_path = self._version_path(before_epoch=epoch_id)
        if prev_path is None:
            prev = self.spark.createDataFrame([], MQTT_SCHEMA)
            max_id = 0
        else:
            prev = self.spark.read.schema(MQTT_SCHEMA).parquet(prev_path)
            max_id = max_id_from_footers(prev_path)
        latest_b = latest_per_key(batch, "topic", ("ts", "event_id")).select(
            "ts", "topic", "value", "qos", "retain"
        )

        # -- merge: payload columns from the newer side, id+flags sticky --
        p = prev.alias("p")
        b = latest_b.alias("b")
        joined = p.join(b, "topic", "full_outer").select(
            F.col("topic"),
            F.col("p.id").alias("old_id"),
            F.coalesce("p.history_enable", F.lit(self.default_enable)).alias(
                "history_enable"
            ),
            F.coalesce("p.history_diffonly", F.lit(self.default_diffonly)).alias(
                "history_diffonly"
            ),
            # newer payload wins; ts updates even when value unchanged
            # (mqtt2sql.py:581 — keeps ts_last meaningful under diffonly)
            F.coalesce("b.ts", "p.ts").alias("ts"),
            F.coalesce("b.value", "p.value").alias("value"),
            F.coalesce("b.qos", "p.qos").alias("qos"),
            F.coalesce("b.retain", "p.retain").alias("retain"),
            # the pre-batch value: the cross-batch diff-only seed
            F.col("p.value").cast("string").alias("_seed_value"),
        )
        # fresh dense ids for unseen topics: max(id)+rank (mysql.sql:70).
        # One window over the merge: unseen topics share the NULL window
        # key and are ranked by topic in one (small) partition; known
        # topics key on themselves, so they stay spread across partitions.
        rank = F.row_number().over(
            W.partitionBy(F.when(F.col("old_id").isNotNull(), F.col("topic")))
            .orderBy("topic")
        )
        merged = joined.withColumn(
            "id", F.coalesce("old_id", (F.lit(max_id) + rank).cast("long"))
        )

        # -- history rows for this batch (cross-batch diff-only) ----------
        dim = merged.select(
            "topic", "id", "history_enable", "history_diffonly", "_seed_value"
        )
        hist = history_rows(
            batch.withColumn("value_str", F.col("value").cast("string")),
            dim,
            seed_col="_seed_value",
        ).select("ts", "topicid", "value", F.to_date("ts").alias("dt"))
        # epoch-idempotent history: this batch owns mqtt_history/epoch=<e>/
        # and overwrites it whole, so a replayed epoch replaces its own
        # earlier rows instead of re-appending them
        hist.write.mode("overwrite").partitionBy("dt").parquet(
            os.path.join(self.base_dir, "mqtt_history", f"epoch={epoch_id}")
        )

        # publish last so history readers never see rows for unpublished ids
        self._publish_mqtt(
            merged.select(
                "id",
                "ts",
                "topic",
                "value",
                "qos",
                "retain",
                "history_enable",
                "history_diffonly",
            ),
            epoch_id,
        )
