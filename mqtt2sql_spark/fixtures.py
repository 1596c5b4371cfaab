"""Canonical relations: driver parquet tables + the mqtt-shaped derivations.

The reference's data model is three relations (SURVEY.md §1.2;
/root/reference/mysql.sql:42-64,94-103):

    mqtt              latest payload per topic  (upsert target, keyed by topic)
    mqtt_history      append-only payload log   (FK topicid → mqtt.id)
    mqtt_history_view history ⋈ mqtt            (readable topic + two timestamps)

Since the driver fixtures have no MQTT stream, FIXTURES.md §2 defines a
deterministic mapping from the `events` table to an mqtt-shaped `messages`
stream.  This module implements that mapping twice, side by side:

  * as PySpark DataFrame builders (the engine under test), and
  * as DuckDB SQL CTE text (the oracle), composed by queries.py.

Keeping both in one file is deliberate — any semantic change must touch
both or the oracle diff fails.

Parity notes (verified against DuckDB 1.0.0):
  - Payload is BinaryType in Spark (LONGBLOB parity, mysql.sql:46) but the
    oracle carries the payload as VARCHAR (`value_str`): DuckDB's
    BLOB→VARCHAR cast escapes bytes (`\\x22`) rather than decoding them, so
    compared outputs always expose the decoded string form.
  - All window orderings are made total with `event_id` as tie-breaker:
    the reference stamps 1-second timestamps (mqtt2sql.py:522) and provides
    no per-key ordering (SURVEY.md §3.1), so we *choose* (ts, event_id) and
    document it (SURVEY.md §7.3 #2).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Topics excluded by exact match — reference semantics: exclusion is a plain
# `in` on a list even though subscription supports wildcards
# (mqtt2sql.py:782-783; asymmetry preserved per SURVEY.md §4.3).
EXCLUDE_TOPICS = ["error/1", "error/2", "click/3", "view/4", "signup/5"]


@lru_cache(maxsize=256)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns physically stored as parquet TIMESTAMP(NANOS) (pyarrow
    footer inspection; cached per file)."""
    import os

    import pyarrow.parquet as pq
    import pyarrow.types as pat

    if os.path.isdir(path):  # Spark writes parquet as a directory
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not parts:
            return ()
        path = os.path.join(path, parts[0])
    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Schema-pinned parquet read (reference declares schema in DDL and
    never infers — mysql.sql:42-64; we rely on parquet's embedded schema,
    which is equally explicit).

    Nanosecond timestamp columns (Spark reads them as long under
    ``spark.sql.legacy.parquet.nanosAsLong``) are converted ns→µs with
    integer division — the same truncation DuckDB applies — so both
    engines see identical microsecond timestamps.
    """
    path = f"{sf_dir}/{name}.parquet"
    # runtime-settable; required even on sessions not built by our factory
    # (the driver passes its own SparkSession to entry()/queries())
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp semantics contract: store/compute UTC, render per-session
    # (SURVEY.md §2 A12).  DuckDB timestamps are UTC-naive, so parity
    # requires the UTC session tz regardless of the host session's default
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    for c in _nano_ts_columns(path):
        df = df.withColumn(c, F.expr(f"timestamp_micros(CAST(`{c}` DIV 1000 AS BIGINT))"))
    # timestamp[us] with isAdjustedToUTC=false reads as TIMESTAMP_NTZ;
    # normalize to the session-tz TIMESTAMP the engine (and DuckDB's
    # UTC-naive timestamps) expect.  The cast re-interprets the naive
    # value in the session tz — pinned to UTC above — so it is
    # value-preserving, and unix_micros/long casts work downstream.
    for f_ in df.schema.fields:
        if f_.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


def messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → mqtt-shaped message stream (FIXTURES.md §2.1).

    Maps the four payload-bearing MQTT attributes (topic, payload, qos,
    retain — mqtt2sql.py:478-480) plus arrival timestamp (mqtt2sql.py:522).
    `value` stays opaque BinaryType at the ingestion layer (SURVEY.md §1.3).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "ts",
        F.concat_ws("/", "event_type", F.col("user_id").cast("string")).alias("topic"),
        F.col("props").cast("binary").alias("value"),
        (F.col("event_id") % 3).cast("int").alias("qos"),
        (F.col("event_id") % 2).cast("int").alias("retain"),
        "event_id",
    )


def topic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The topic dimension: dense surrogate ids + sticky per-topic flags.

    id = max(id)+1 trigger semantics (mysql.sql:66-75) → dense
    row_number over (first_ts, topic).  The dimension is tiny relative to
    the stream (topics ≪ messages), so a single-partition window is fine
    even at 100 TB of messages; the flags follow FIXTURES.md §2.2.
    """
    msg = messages(spark, sf_dir)
    dim = msg.groupBy("topic").agg(F.min("ts").alias("first_ts"))
    w = W.orderBy("first_ts", "topic")
    return dim.select(
        F.row_number().over(w).cast("long").alias("id"),
        "topic",
        "first_ts",
        F.when(F.col("topic").startswith("error/"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("history_enable"),
        F.when(F.col("topic").startswith("view/"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("history_diffonly"),
    )


def mqtt_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `mqtt` table: latest message per topic joined to the dimension.

    Upsert (INSERT..ON DUPLICATE KEY UPDATE, mqtt2sql.py:579-591) in batch
    form = keep the max-(ts, event_id) row per topic.  The join to the
    dimension is a broadcast hash join — the dim side is small by
    construction, so no shuffle of the big side is needed for id/flags.
    """
    from mqtt2sql_spark.operators.upsert import latest_per_key

    msg = messages(spark, sf_dir)
    latest = latest_per_key(msg, "topic", ("ts", "event_id"))
    dim = topic_dim(spark, sf_dir)
    return latest.join(F.broadcast(dim), "topic").select(
        "id",
        "ts",
        "topic",
        "value",
        "qos",
        "retain",
        "history_enable",
        "history_diffonly",
    )


def mqtt_topic_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact per-topic latest-state dimension: (id, topic, ts_last).

    Semantically the (id, topic, ts) projection of the `mqtt` table, but
    computed as a plain max aggregate — no per-row row_number pass — since
    consumers (the history view) only need the latest timestamp, not the
    full latest row.  One partial-aggregated shuffle on topic."""
    msg = messages(spark, sf_dir)
    agg = msg.groupBy("topic").agg(F.max("ts").alias("ts_last"))
    dim = topic_dim(spark, sf_dir)
    return agg.join(F.broadcast(dim), "topic").select("id", "topic", "ts_last")


def mqtt_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `mqtt_history` table (MySQL trigger cadence, SURVEY.md §4.3).

    Emit a history row for every message on an enabled topic, except that
    when history_diffonly=1 a row equal to the immediately-previous value
    for that topic is suppressed (mysql.sql:77-91).  First message per
    topic is always recorded when enabled (lag IS NULL branch).

    Diff detection compares the decoded payload string per (ts, event_id)
    order — the lag window shuffles by topic once; the dense history id is
    one global ``row_number`` in (ts, event_id) order, the oracle's own
    form.
    """
    from mqtt2sql_spark.operators.history import history_rows

    msg = messages(spark, sf_dir).withColumn(
        "value_str", F.col("value").cast("string")
    )
    dim = topic_dim(spark, sf_dir)
    kept = history_rows(msg, dim, value_col="value_str")
    return kept.select(
        F.row_number()
        .over(W.orderBy("ts", "event_id"))
        .cast("long")
        .alias("id"),
        "ts",
        "topicid",
        "value_str",
    )


# --------------------------------------------------------------------------
# DuckDB oracle CTE text.  queries.py prepends ORACLE_CTES to per-query SQL.
# Tables region..embeddings are pre-registered as views by the driver.
# --------------------------------------------------------------------------

ORACLE_CTES = """
WITH messages AS (
    SELECT ts,
           event_type || '/' || CAST(user_id AS VARCHAR) AS topic,
           props AS value_str,
           CAST(event_id % 3 AS INTEGER) AS qos,
           CAST(event_id % 2 AS INTEGER) AS retain,
           event_id
    FROM events
),
topic_dim AS (
    SELECT CAST(row_number() OVER (ORDER BY first_ts, topic) AS BIGINT) AS id,
           topic, first_ts,
           CASE WHEN topic LIKE 'error/%' THEN 0 ELSE 1 END AS history_enable,
           CASE WHEN topic LIKE 'view/%' THEN 0 ELSE 1 END AS history_diffonly
    FROM (SELECT topic, min(ts) AS first_ts FROM messages GROUP BY topic)
),
mqtt AS (
    SELECT d.id, l.ts, l.topic, l.value_str, l.qos, l.retain,
           d.history_enable, d.history_diffonly
    FROM (
        SELECT * FROM (
            SELECT m.*,
                   row_number() OVER (PARTITION BY topic
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM messages m
        ) WHERE rn = 1
    ) l JOIN topic_dim d USING (topic)
),
hist_base AS (
    SELECT m.ts, m.event_id, m.topic, m.qos, m.value_str, d.id AS topicid,
           d.history_enable, d.history_diffonly,
           lag(m.value_str) OVER (PARTITION BY m.topic
                                  ORDER BY m.ts, m.event_id) AS prev_value
    FROM messages m JOIN topic_dim d USING (topic)
),
mqtt_history AS (
    SELECT CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS id,
           ts, topicid, value_str
    FROM hist_base
    WHERE history_enable = 1
      AND (history_diffonly = 0 OR prev_value IS NULL
           OR prev_value <> value_str)
)
"""


def create_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table plus the derived mqtt relations as temp
    views, so the whole engine surface is reachable through plain
    ``spark.sql`` — the reference's product surface is SQL
    (README.md:15-20), and Catalyst plans SQL and DataFrame identically."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    messages(spark, sf_dir).createOrReplaceTempView("messages")
    topic_dim(spark, sf_dir).createOrReplaceTempView("topic_dim")
    mqtt_latest(spark, sf_dir).createOrReplaceTempView("mqtt")
    mqtt_history(spark, sf_dir).createOrReplaceTempView("mqtt_history")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW mqtt_history_view AS
        SELECT h.id, h.ts AS ts, m.ts AS ts_last, m.topic,
               h.value_str AS value
        FROM mqtt_history h JOIN mqtt m ON m.id = h.topicid
        """
    )
