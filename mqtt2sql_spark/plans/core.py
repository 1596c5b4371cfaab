"""Core operator inventory (SURVEY.md §2 A1-A14) as oracle-checked queries.

Each query is the batch form of a reference dataflow step; reference
citations are on each spec.  The streaming forms reuse the same column
logic via mqtt2sql_spark.streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mqtt2sql_spark.fixtures import (
    EXCLUDE_TOPICS,
    load_table,
    messages,
    mqtt_history,
    mqtt_latest,
    topic_dim,
)
from mqtt2sql_spark.functions.topics import mqtt_pattern_to_regex, topic_excluded
from mqtt2sql_spark.plans.base import register

# --- A1: source scan (batch stand-in for the MQTT subscribe) --------------


@register(
    "scan_events",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND event_type <> 'error'
    """,
    doc="A1 stream-source stand-in (mqtt2sql.py:754-760): parquet scan with "
    "filter+projection pushed into the reader (PushedFilters visible in plan).",
)
def scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
        & (F.col("event_type") != "error")
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


# --- A2: exact-match exclusion filter -------------------------------------


@register(
    "filter_exclude_topic",
    oracle=f"""
    SELECT ts, topic, qos, retain, event_id
    FROM messages
    WHERE topic NOT IN ({", ".join(repr(t) for t in EXCLUDE_TOPICS)})
    """,
    doc="A2 negative filter: exact-match exclusion list (mqtt2sql.py:782-783); "
    "deliberately NOT wildcard — the reference asymmetry (SURVEY.md §4.3).",
)
def filter_exclude_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        messages(spark, sf_dir)
        .filter(~topic_excluded("topic", EXCLUDE_TOPICS))
        .select("ts", "topic", "qos", "retain", "event_id")
    )


# --- A3: wildcard subscription filter -------------------------------------

_WILDCARD_PATTERNS = ("purchase/+", "error/#")


@register(
    "filter_topic_wildcard",
    oracle=f"""
    SELECT ts, topic, qos, retain, event_id
    FROM messages
    WHERE regexp_matches(topic, '{mqtt_pattern_to_regex("purchase/+")}')
       OR regexp_matches(topic, '{mqtt_pattern_to_regex("error/#")}')
    """,
    doc="A3 subscription match: MQTT wildcard grammar `+`/`#` "
    "(mqtt2sql.py:757,760; mqtt2sql.conf:33) compiled to an anchored regex "
    "predicate so Catalyst can push it toward the scan.",
)
def filter_topic_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    msg = messages(spark, sf_dir)
    pred = None
    for p in _WILDCARD_PATTERNS:
        c = F.col("topic").rlike(mqtt_pattern_to_regex(p))
        pred = c if pred is None else (pred | c)
    return msg.filter(pred).select("ts", "topic", "qos", "retain", "event_id")


# --- A4: projection + scalar transforms -----------------------------------


@register(
    "project_message",
    oracle="""
    SELECT ts, topic, value_str, qos, retain, event_id FROM messages
    """,
    doc="A4 message→row projection (mqtt2sql.py:522,579-603): arrival ts, "
    "topic, opaque binary payload (decoded view exposed as value_str), "
    "qos, retain.",
)
def project_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    return messages(spark, sf_dir).select(
        "ts",
        "topic",
        F.col("value").cast("string").alias("value_str"),
        "qos",
        "retain",
        "event_id",
    )


# --- A5/A6: keyed upsert = latest per topic -------------------------------


@register(
    "upsert_latest_per_topic",
    oracle="""
    SELECT id, ts, topic, value_str, qos, retain,
           history_enable, history_diffonly
    FROM mqtt
    """,
    doc="A5/A6 keyed upsert (INSERT..ON DUPLICATE KEY UPDATE, "
    "mqtt2sql.py:579-629): batch form = max-(ts,event_id) row per topic; "
    "id and history flags are sticky per topic (SURVEY.md §4.3).",
    bench=True,
)
def upsert_latest_per_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mqtt_latest(spark, sf_dir).select(
        "id",
        "ts",
        "topic",
        F.col("value").cast("string").alias("value_str"),
        "qos",
        "retain",
        "history_enable",
        "history_diffonly",
    )


# --- A7: surrogate key assignment -----------------------------------------


@register(
    "assign_topic_ids",
    oracle="""
    SELECT id, topic, first_ts, history_enable, history_diffonly
    FROM topic_dim
    """,
    doc="A7 dense surrogate ids: max(id)+1 trigger (mysql.sql:66-75) → "
    "row_number over (first_ts, topic) on the small topic dimension.",
)
def assign_topic_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topic_dim(spark, sf_dir)


# --- A8: per-key flag routing ---------------------------------------------


@register(
    "history_enable_routing",
    oracle="""
    SELECT ts, topic, event_id, qos
    FROM hist_base
    WHERE history_enable = 1
    """,
    doc="A8 conditional routing: history emitted only when the topic's "
    "history_enable flag is set (mysql.sql:79; README.md:207-210) — "
    "stream⋈static broadcast join against the control table.",
)
def history_enable_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    msg = messages(spark, sf_dir)
    dim = topic_dim(spark, sf_dir)
    return (
        msg.join(F.broadcast(dim), "topic")
        .filter(F.col("history_enable") == 1)
        .select("ts", "topic", "event_id", "qos")
    )


# --- A9: CDC append (full history) ----------------------------------------


@register(
    "history_append_all",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS id,
           ts, topicid, value_str
    FROM hist_base
    WHERE history_enable = 1
    """,
    doc="A9 full-history CDC append (history_diffonly=0 path, "
    "mysql.sql:77-83): every enabled message becomes a history row "
    "(ts, topicid, value); dense ids via scalable two-phase assignment.",
)
def history_append_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mqtt2sql_spark.operators.ids import dense_row_ids

    msg = messages(spark, sf_dir)
    dim = topic_dim(spark, sf_dir)
    enabled = (
        msg.join(F.broadcast(dim), "topic")
        .filter(F.col("history_enable") == 1)
        .select(
            "ts",
            F.col("id").alias("topicid"),
            F.col("value").cast("string").alias("value_str"),
            "event_id",
        )
    )
    return dense_row_ids(enabled, ["ts", "event_id"], "id").select(
        "id", "ts", "topicid", "value_str"
    )


# --- A10: diff-only CDC ----------------------------------------------------


@register(
    "history_diffonly",
    oracle="""
    SELECT id, ts, topicid, value_str FROM mqtt_history
    """,
    doc="A10 consecutive-change dedup (mysql.sql:87; README.md:209-210): "
    "suppress history rows equal to the previous value per topic — "
    "lag window per topic; cross-batch streaming form in "
    "sinks/upsert.MqttUpsertSink (pre-batch value seeds the lag).",
    bench=True,
)
def history_diffonly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mqtt_history(spark, sf_dir)


# --- A11: history view join ------------------------------------------------


@register(
    "history_view_join",
    oracle="""
    SELECT h.id, h.ts AS ts, m.ts AS ts_last, m.topic, h.value_str
    FROM mqtt_history h JOIN mqtt m ON m.id = h.topicid
    """,
    doc="A11 inner equi-join view (mysql.sql:94-103; README.md:228-235): "
    "history ⋈ broadcast(topic dim) — ts = history insert time, ts_last = "
    "latest change time from mqtt.  The dim side is the compact per-topic "
    "aggregate (id, topic, max ts), not the full latest-row derivation: "
    "the view only projects m.ts and m.topic, so re-deriving the whole "
    "upsert chain for the build side would be wasted work at any scale.",
    bench=True,
)
def history_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mqtt2sql_spark.fixtures import mqtt_topic_latest

    h = mqtt_history(spark, sf_dir)
    m = mqtt_topic_latest(spark, sf_dir)
    return h.join(F.broadcast(m), m["id"] == h["topicid"], "inner").select(
        h["id"],
        h["ts"].alias("ts"),
        m["ts_last"].alias("ts_last"),
        m["topic"],
        h["value_str"],
    )


# --- A12: timezone-aware rendering ----------------------------------------


@register(
    "tz_render",
    oracle="""
    SELECT event_id, ts,
           strftime(timezone('Europe/Berlin', timezone('UTC', ts)),
                    '%Y-%m-%d %H:%M:%S') AS ts_berlin,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_utc
    FROM events
    """,
    doc="A12 tz-aware timestamping (mqtt2sql.py:304-312,522; "
    "README.md:237-251): store UTC, render per-session tz at 1 s "
    "granularity.  Session tz pinned to UTC; rendering via "
    "from_utc_timestamp.",
)
def tz_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "ts",
        F.date_format(
            F.from_utc_timestamp("ts", "Europe/Berlin"), "yyyy-MM-dd HH:mm:ss"
        ).alias("ts_berlin"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_utc"),
    )


# --- A13: binary↔hex codec -------------------------------------------------


@register(
    "hex_roundtrip",
    oracle="""
    SELECT event_id,
           upper(hex(CAST(value_str AS BLOB))) AS value_hex,
           decode(unhex(hex(encode(value_str)))) AS value_rt
    FROM messages
    """,
    doc="A13 hex codec: the reference ships payloads as x'<hex>' literals "
    "(mqtt2sql.py:586,600); round-trip BinaryType↔hex with F.hex/F.unhex.",
)
def hex_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return messages(spark, sf_dir).select(
        "event_id",
        F.upper(F.hex("value")).alias("value_hex"),
        F.unhex(F.hex("value")).cast("string").alias("value_rt"),
    )


# --- A14: control-table flag flip -----------------------------------------


@register(
    "flip_history_flag",
    oracle="""
    SELECT id, topic,
           CASE WHEN topic LIKE 'click/%' THEN 0 ELSE history_enable END
               AS history_enable,
           history_diffonly
    FROM mqtt
    """,
    doc="A14 control-table update (README.md:214,220-226): "
    "UPDATE mqtt SET history_enable=0 for a topic family, expressed as a "
    "column rewrite over the latest-state table.",
)
def flip_history_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mqtt_latest(spark, sf_dir).select(
        "id",
        "topic",
        F.when(F.col("topic").startswith("click/"), F.lit(0))
        .otherwise(F.col("history_enable"))
        .alias("history_enable"),
        "history_diffonly",
    )


# --- history maintenance: value-run compaction -----------------------------


@register(
    "history_value_runs",
    oracle="""
    , flagged AS (
        SELECT topicid, ts, event_id, value_str,
               CASE WHEN lag(value_str) OVER w IS NULL
                      OR lag(value_str) OVER w <> value_str
                    THEN 1 ELSE 0 END AS chg
        FROM (
            SELECT d.id AS topicid, m.ts, m.event_id, m.value_str
            FROM messages m JOIN topic_dim d USING (topic)
        )
        WINDOW w AS (PARTITION BY topicid ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT *,
               sum(chg) OVER (PARTITION BY topicid ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS run_id
        FROM flagged
    )
    SELECT topicid, CAST(run_id AS BIGINT) AS run_id, value_str,
           min(ts) AS run_start, max(ts) AS run_end,
           count(*) AS n_rows
    FROM runs
    GROUP BY topicid, run_id, value_str
    """,
    doc="History compaction by value runs (gaps-and-islands): collapse "
    "each topic's message sequence into (value, run_start, run_end, "
    "n_rows) intervals — the run-length-encoded form of the history "
    "table, i.e. what A10's diff-only stream keeps one row of, with the "
    "span and repeat count the full history can still reconstruct.  "
    "Change flags from lag(), run ids from a running sum, both windows "
    "and the final rollup share ONE topicid shuffle.  The value-change "
    "island pattern complements events_sessionize's time-gap islands "
    "(reference trigger semantics: mysql.sql:87 diff suppression).",
)
def history_value_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mqtt2sql_spark.fixtures import messages, topic_dim

    msg = messages(spark, sf_dir).withColumn(
        "value_str", F.col("value").cast("string")
    )
    dim = topic_dim(spark, sf_dir).select("id", "topic")
    base = msg.join(F.broadcast(dim), "topic").select(
        F.col("id").alias("topicid"), "ts", "event_id", "value_str"
    )
    w = W.partitionBy("topicid").orderBy("ts", "event_id")
    flagged = base.withColumn(
        "chg",
        F.when(
            F.lag("value_str").over(w).isNull()
            | (F.lag("value_str").over(w) != F.col("value_str")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return runs.groupBy(
        "topicid", F.col("run_id").cast("long").alias("run_id"), "value_str"
    ).agg(
        F.min("ts").alias("run_start"),
        F.max("ts").alias("run_end"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- history maintenance: retention pruning --------------------------------

RETAIN_AFTER = "2024-01-20 00:00:00"  # keep full detail after this instant


@register(
    "history_retention_prune",
    oracle=f"""
    , ranked AS (
        SELECT id, ts, topicid, value_str,
               row_number() OVER (PARTITION BY topicid
                                  ORDER BY ts DESC, id DESC) AS rn
        FROM mqtt_history
    )
    SELECT id, ts, topicid, value_str,
           CAST(CASE WHEN ts >= TIMESTAMP '{RETAIN_AFTER}'
                THEN 1 ELSE 0 END AS INTEGER) AS in_window
    FROM ranked
    WHERE ts >= TIMESTAMP '{RETAIN_AFTER}' OR rn = 1
    """,
    doc="Retention policy over the history table: keep every row inside "
    "the retention window PLUS each topic's single latest row outside it "
    "(so a topic silent since before the cutoff still reconstructs its "
    "current state — the invariant a naive DELETE WHERE ts < cutoff "
    "breaks).  One topicid-keyed ranking window; on date-partitioned "
    "storage the window only needs to scan partitions ≤ cutoff for the "
    "keep-latest half, and the in-window half is pure partition "
    "pruning.  The maintenance twin of A9/A10's append path "
    "(reference has no retention story — its history grows forever, "
    "README.md:228-235).",
)
def history_retention_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mqtt2sql_spark.fixtures import mqtt_history

    h = mqtt_history(spark, sf_dir)
    w = W.partitionBy("topicid").orderBy(F.desc("ts"), F.desc("id"))
    cutoff = F.lit(RETAIN_AFTER).cast("timestamp")
    ranked = h.withColumn("rn", F.row_number().over(w))
    return (
        ranked.filter((F.col("ts") >= cutoff) | (F.col("rn") == 1))
        .select(
            "id",
            "ts",
            "topicid",
            "value_str",
            F.when(F.col("ts") >= cutoff, 1).otherwise(0)
            .cast("int")
            .alias("in_window"),
        )
    )


# --- SCD Type-2 dimension derived from the history stream ------------------


@register(
    "scd2_topic_versions",
    oracle="""
    SELECT h.topicid, d.topic, h.value_str,
           h.ts AS valid_from,
           lead(h.ts) OVER (PARTITION BY h.topicid
                            ORDER BY h.ts, h.id) AS valid_to,
           CAST(row_number() OVER (PARTITION BY h.topicid
                                   ORDER BY h.ts, h.id) AS BIGINT) AS version,
           CASE WHEN lead(h.ts) OVER (PARTITION BY h.topicid
                                      ORDER BY h.ts, h.id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM mqtt_history h JOIN topic_dim d ON d.id = h.topicid
    """,
    doc="Slowly-changing-dimension (type 2) view of the reference's "
    "history table: each history row becomes a version with "
    "[valid_from, valid_to) effective range, a per-topic version number, "
    "and an is_current flag — the standard warehouse rendering of the "
    "CDC stream the reference's triggers emit (mysql.sql:77-91; the "
    "view's two-timestamp contract at README.md:228-235 answers 'value "
    "now'; SCD2 answers 'value as of any t').  One window shuffle "
    "partitioned by topicid computes lead/row_number together; the topic "
    "name joins in from the broadcast dimension.  As-of lookup against "
    "the result is a range predicate (valid_from <= t < valid_to), "
    "prunable at 100 TB when written partitioned by date(valid_from).  "
    "Ties are impossible by construction: (ts, id) is a total order "
    "because history ids are unique.",
)
def scd2_topic_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = mqtt_history(spark, sf_dir)
    dim = topic_dim(spark, sf_dir).select(
        F.col("id").alias("_did"), "topic"
    )
    w = W.partitionBy("topicid").orderBy("ts", "id")
    return (
        h.join(F.broadcast(dim), h["topicid"] == F.col("_did"))
        .select(
            "topicid",
            "topic",
            "value_str",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("long").alias("version"),
            F.when(F.lead("ts").over(w).isNull(), 1)
            .otherwise(0)
            .alias("is_current"),
        )
    )


# --- point-in-time (temporal) lookup against the SCD2 versions -------------

_ASOF_PROBES = (
    "2024-01-08 00:00:00",
    "2024-01-15 00:00:00",
    "2024-01-22 00:00:00",
)


@register(
    "topic_value_asof",
    oracle=f"""
    , versions AS (
        SELECT h.topicid, d.topic, h.value_str,
               h.ts AS valid_from,
               lead(h.ts) OVER (PARTITION BY h.topicid
                                ORDER BY h.ts, h.id) AS valid_to
        FROM mqtt_history h JOIN topic_dim d ON d.id = h.topicid
    ),
    probes AS (
        SELECT * FROM (VALUES
            {", ".join(f"(TIMESTAMP '{t}')" for t in _ASOF_PROBES)}
        ) v(probe_ts)
    )
    SELECT probe_ts, topicid, topic, value_str, valid_from
    FROM versions JOIN probes
      ON valid_from <= probe_ts
     AND (valid_to IS NULL OR valid_to > probe_ts)
    """,
    doc="Temporal point-in-time lookup — 'what was every topic's value "
    "as of T?' for a set of probe timestamps, answered from the SCD2 "
    "version ranges (scd2_topic_versions) with a half-open interval "
    "predicate [valid_from, valid_to).  The probe set is a literal "
    "3-row relation, so Spark plans a BroadcastNestedLoopJoin whose "
    "inner side is 3 rows — effectively three predicate evaluations "
    "fused over one scan of the versions.  At 100 TB, versions written "
    "partitioned by date(valid_from) prune to the probe dates; this is "
    "the query shape time-travel reads and training-data snapshot "
    "reconstruction ('the corpus as of the data-freeze date') compile "
    "to.  Answers the reference's README query pattern (value now = "
    "README.md:15-16) generalized to any past instant.",
)
def topic_value_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    versions = scd2_topic_versions(spark, sf_dir).select(
        "topicid", "topic", "value_str", "valid_from", "valid_to"
    )
    probes = spark.sql(
        "SELECT * FROM (VALUES "
        + ", ".join(f"(TIMESTAMP '{t}')" for t in _ASOF_PROBES)
        + ") v(probe_ts)"
    )
    return (
        versions.join(
            F.broadcast(probes),
            (F.col("valid_from") <= F.col("probe_ts"))
            & (
                F.col("valid_to").isNull()
                | (F.col("valid_to") > F.col("probe_ts"))
            ),
        )
        .select("probe_ts", "topicid", "topic", "value_str", "valid_from")
    )


# --- SQLite trigger-cadence twin (reference quirk, executable) -------------


@register(
    "history_sqlite_cadence",
    oracle="""
    , hb AS (
        SELECT m.ts, m.event_id, d.id AS topicid,
               d.history_enable, d.history_diffonly,
               lag(m.value_str) OVER (PARTITION BY m.topic
                                      ORDER BY m.ts, m.event_id) AS prev_value,
               m.value_str,
               row_number() OVER (PARTITION BY m.topic
                                  ORDER BY m.ts, m.event_id) AS rn
        FROM messages m JOIN topic_dim d USING (topic)
    )
    SELECT topicid, event_id, ts,
           CASE WHEN rn = 1 AND history_diffonly = 0 THEN 2 ELSE 1 END
               AS n_rows
    FROM hb
    WHERE history_enable = 1
      AND (history_diffonly = 0 OR prev_value IS NULL
           OR prev_value <> value_str)
    """,
    doc="The SQLite history cadence as an executable twin (reference "
    "quirk, SURVEY §4.3): the client does INSERT OR IGNORE then an "
    "unconditional UPDATE (mqtt2sql.py:592-629), so a BRAND-NEW topic "
    "fires BOTH triggers (sqlite.sql:58-70) — with history_diffonly=0 "
    "the first message lands TWICE in history; with =1 the second fire "
    "is suppressed because OLD.value = NEW.value.  Existing topics "
    "behave exactly like the MySQL path (update trigger + diffonly "
    "check).  The engine's canonical tables keep the MySQL cadence "
    "(mqtt_history, one row per qualifying message); this query makes "
    "the divergence AUDITABLE as data — per qualifying message, the "
    "row count SQLite's schema would have produced — instead of a "
    "docs-only footnote.  Same single topic-keyed window shuffle as "
    "history_diffonly; n_rows is pure expression on top.",
)
def history_sqlite_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    msg = messages(spark, sf_dir).withColumn(
        "value_str", F.col("value").cast("string")
    )
    dim = topic_dim(spark, sf_dir)
    w = W.partitionBy("topic").orderBy("ts", "event_id")
    base = (
        msg.join(F.broadcast(dim), "topic")
        .withColumn("_prev", F.lag("value_str").over(w))
        .withColumn("_rn", F.row_number().over(w))
    )
    kept = base.filter(
        (F.col("history_enable") == 1)
        & (
            (F.col("history_diffonly") == 0)
            | F.col("_prev").isNull()
            | (F.col("_prev") != F.col("value_str"))
        )
    )
    return kept.select(
        F.col("id").alias("topicid"),
        "event_id",
        "ts",
        F.when((F.col("_rn") == 1) & (F.col("history_diffonly") == 0), 2)
        .otherwise(1)
        .alias("n_rows"),
    )


# --- diffonly compression observability -------------------------------------


@register(
    "diffonly_compression_stats",
    oracle="""
    , per_topic AS (
        SELECT d.id AS topicid, d.history_enable, d.history_diffonly,
               CAST(count(*) AS BIGINT) AS n_messages,
               CAST(sum(CASE WHEN prev_value IS NULL
                              OR prev_value <> value_str
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
        FROM (
            SELECT m.topic, m.value_str,
                   lag(m.value_str) OVER (PARTITION BY m.topic
                                          ORDER BY m.ts, m.event_id)
                       AS prev_value
            FROM messages m
        ) x JOIN topic_dim d USING (topic)
        GROUP BY d.id, d.history_enable, d.history_diffonly
    )
    SELECT topicid, history_enable, history_diffonly,
           n_messages, n_changes,
           CAST((n_messages - n_changes) * 1000000 // n_messages AS BIGINT)
               AS savings_ppm
    FROM per_topic
    """,
    doc="Diff-only compression readout — the question a reference user "
    "asks before enabling history_diffonly (README.md:205-226): per "
    "topic, how many messages would the change-only trigger suppress?  "
    "savings_ppm = suppressed/messages in exact parts-per-million.  "
    "One topic-keyed window shuffle computes the change flags (the "
    "same lag the diffonly operator itself uses), one rollup per "
    "topic; flags come along from the broadcast dimension so the "
    "readout also shows CURRENT settings next to potential savings.",
)
def diffonly_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    msg = messages(spark, sf_dir).withColumn(
        "value_str", F.col("value").cast("string")
    )
    dim = topic_dim(spark, sf_dir)
    w = W.partitionBy("topic").orderBy("ts", "event_id")
    flagged = msg.withColumn("_prev", F.lag("value_str").over(w)).withColumn(
        "_chg",
        F.when(
            F.col("_prev").isNull() | (F.col("_prev") != F.col("value_str")),
            1,
        ).otherwise(0),
    )
    per_topic = (
        flagged.join(F.broadcast(dim), "topic")
        .groupBy("id", "history_enable", "history_diffonly")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_messages"),
            F.sum("_chg").cast("long").alias("n_changes"),
        )
    )
    return per_topic.select(
        F.col("id").alias("topicid"),
        "history_enable",
        "history_diffonly",
        "n_messages",
        "n_changes",
        F.expr(
            "(n_messages - n_changes) * 1000000 DIV n_messages"
        ).alias("savings_ppm"),
    )


SCD2_ASOF = "2024-01-15 00:00:00"  # mid-range instant of the fixture stream


@register(
    "scd2_asof_snapshot",
    oracle=f"""
    , versions AS (
        SELECT h.topicid, d.topic, h.value_str,
               h.ts AS valid_from,
               lead(h.ts) OVER (PARTITION BY h.topicid
                                ORDER BY h.ts, h.id) AS valid_to,
               CAST(row_number() OVER (PARTITION BY h.topicid
                                       ORDER BY h.ts, h.id) AS BIGINT)
                   AS version
        FROM mqtt_history h JOIN topic_dim d ON d.id = h.topicid
    )
    SELECT topicid, topic, value_str, valid_from, version
    FROM versions
    WHERE valid_from <= TIMESTAMP '{SCD2_ASOF}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{SCD2_ASOF}')
    """,
    doc="Time travel over the SCD2 dimension: reconstruct every "
    "topic's state as of a fixed instant by selecting the version "
    "whose [valid_from, valid_to) range covers it — the read side "
    "of scd2_topic_versions, proving the two-timestamp contract "
    "answers 'value as of any t' (reference README.md:228-235 only "
    "answers 'value now').  Topics first seen after the instant "
    "drop out naturally.  Same single topicid-partitioned window "
    "as the SCD2 build; the as-of predicate is a range filter that "
    "partition-prunes when the table is laid out by "
    "date(valid_from).",
    tags=("core", "scd2"),
)
def scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mqtt2sql_spark.fixtures import mqtt_history, topic_dim

    h = mqtt_history(spark, sf_dir)
    dim = topic_dim(spark, sf_dir).select(
        F.col("id").alias("_did"), "topic"
    )
    w = W.partitionBy("topicid").orderBy("ts", "id")
    versions = (
        h.join(F.broadcast(dim), h["topicid"] == F.col("_did"))
        .select(
            "topicid",
            "topic",
            "value_str",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("long").alias("version"),
        )
    )
    t = F.lit(SCD2_ASOF).cast("timestamp")
    return versions.where(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("topicid", "topic", "value_str", "valid_from", "version")


@register(
    "payload_size_profile",
    oracle="""
    , sz AS (
        SELECT split_part(topic, '/', 1) AS root,
               length(value_str) AS len
        FROM messages
    )
    SELECT root,
           CAST(length(bin(len + 1)) - 1 AS INTEGER) AS size_octave,
           CAST(count(*) AS BIGINT) AS n_messages,
           CAST(sum(len) AS BIGINT) AS total_bytes,
           CAST(max(len) AS BIGINT) AS max_bytes
    FROM sz GROUP BY 1, 2
    """,
    doc="Payload-size profile per topic root: message payload lengths "
    "bucketed by bit-length octave (the no-libm log2 histogram), "
    "with byte totals — the broker/storage capacity view the "
    "reference's operators eyeball from MQTT dashboards "
    "(mqtt2sql.py stores the raw payload per row; size skew decides "
    "VARCHAR vs TEXT columns and row-group sizing downstream).  "
    "One partial-agg'd rollup over the message stream; topic root "
    "via split_part, identical cross-engine.  All-integer.",
    tags=("core", "ops"),
)
def payload_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    msg = messages(spark, sf_dir)
    sz = msg.select(
        F.split_part(F.col("topic"), F.lit("/"), F.lit(1)).alias("root"),
        # Spark messages() carries the payload as BINARY; byte length
        # equals the oracle's char length (ASCII JSON payloads)
        F.length("value").alias("len"),
    )
    return sz.groupBy(
        "root",
        (F.length(F.bin(F.col("len") + 1)) - 1)
        .cast("int")
        .alias("size_octave"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_messages"),
        F.sum("len").cast("long").alias("total_bytes"),
        F.max("len").cast("long").alias("max_bytes"),
    )


@register(
    "sequence_gap_audit",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id,
           CAST(max(event_id) - min(event_id) + 1
                - count(DISTINCT event_id) AS BIGINT) AS n_missing,
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
               AS n_duplicate_rows
    FROM events
    """,
    doc="Ingestion-completeness audit over the event_id sequence: "
    "missing ids (holes in [min, max] — dropped messages upstream) "
    "and duplicate rows (at-least-once redelivery) in one pass — "
    "the two numbers that distinguish lossy from duplicating "
    "transport, checked before trusting any downstream count.  The "
    "reference's autoincrement ids (mysql.sql:35) make the same "
    "audit possible on its history table.  Single distributive + "
    "count-distinct aggregate, no shuffle beyond the partial-agg "
    "combine.",
    tags=("core", "dq"),
)
def sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("event_id").cast("long").alias("n_distinct_ids"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
        (
            F.max("event_id")
            - F.min("event_id")
            + 1
            - F.countDistinct("event_id")
        )
        .cast("long")
        .alias("n_missing"),
        (F.count(F.lit(1)) - F.countDistinct("event_id"))
        .cast("long")
        .alias("n_duplicate_rows"),
    )


# --- sensitivity of diff-only CDC to processing order ---------------------------


@register(
    "diffonly_order_sensitivity",
    oracle="""
    , flags AS (
        SELECT CASE WHEN lag(value_str) OVER (PARTITION BY topic
                        ORDER BY ts, event_id) IS DISTINCT FROM value_str
                    THEN 1 ELSE 0 END AS keep_ts,
               CASE WHEN lag(value_str) OVER (PARTITION BY topic
                        ORDER BY event_id)  IS DISTINCT FROM value_str
                    THEN 1 ELSE 0 END AS keep_arr
        FROM messages
    )
    SELECT CAST(count(*) AS BIGINT) AS n_messages,
           CAST(sum(keep_ts) AS BIGINT) AS kept_event_time,
           CAST(sum(keep_arr) AS BIGINT) AS kept_arrival_order,
           CAST(sum(keep_ts * keep_arr) AS BIGINT) AS kept_both,
           CAST(sum(CASE WHEN keep_ts <> keep_arr THEN 1 ELSE 0 END)
               AS BIGINT) AS n_disagree,
           CAST((1000000 * sum(CASE WHEN keep_ts <> keep_arr
                                    THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS disagree_ppm
    FROM flags
    """,
    doc="How much does out-of-order arrival corrupt diff-only history? "
    " The A10 diffonly dedup (keep a message iff it differs from the "
    "topic's previous value — mqtt2sql.py history_diffonly semantics) "
    "evaluated under BOTH orderings: event time (ts, the batch/"
    "backfill result) and arrival order (event_id, what a streaming "
    "pass without event-time buffering would produce).  disagree_ppm "
    "is the exact fraction of rows whose keep/drop decision flips — "
    "the data-loss/duplication budget of deciding diff-only history in "
    "arrival order, as the streaming upsert sink "
    "(sinks/upsert.MqttUpsertSink) does across micro-batches.  Two lag "
    "windows over the same topic shuffle, one fold; IS DISTINCT FROM "
    "handles the first-message NULL identically on both engines.",
    tags=("core", "streaming"),
)
def diffonly_order_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    msgs = messages(spark, sf_dir)
    w_ts = W.partitionBy("topic").orderBy("ts", "event_id")
    w_arr = W.partitionBy("topic").orderBy("event_id")
    flags = msgs.select(
        F.when(
            ~F.lag("value").over(w_ts).eqNullSafe(F.col("value")), 1
        )
        .otherwise(0)
        .alias("keep_ts"),
        F.when(
            ~F.lag("value").over(w_arr).eqNullSafe(F.col("value")), 1
        )
        .otherwise(0)
        .alias("keep_arr"),
    )
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_messages"),
        F.sum("keep_ts").cast("long").alias("kept_event_time"),
        F.sum("keep_arr").cast("long").alias("kept_arrival_order"),
        F.sum(F.col("keep_ts") * F.col("keep_arr"))
        .cast("long")
        .alias("kept_both"),
        F.sum(
            F.when(F.col("keep_ts") != F.col("keep_arr"), 1).otherwise(0)
        ).cast("long").alias("n_disagree"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN keep_ts <> keep_arr"
            " THEN 1 ELSE 0 END)) DIV count(*) AS BIGINT)"
        ).alias("disagree_ppm"),
    )
