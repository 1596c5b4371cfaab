"""Batch file-format sources/sinks for the LLM-pipeline tables.

Raw training-data drops arrive as JSONL / CSV long before they are
parquet; these readers make the engine ingest them directly with the
SAME schemas the parquet fixtures carry.  Two scale rules are encoded
here rather than left to the caller:

  * **Explicit schemas, never inference.**  Schema inference is a full
    extra pass over the input — at 100 TB that is a second 100 TB scan
    before the first real one.  Every reader passes the schema.
  * **Line-splittable formats stay splittable.**  JSONL and non-multiline
    CSV split at line boundaries, so a 1 TB file still fans out across
    executors; the writers shard output (`repartition(n)`) so no single
    reducer owns a giant file.

The reference ingests only from a live MQTT socket (mqtt2sql.py:899-924);
file ingestion is an extension (SURVEY.md §2 C / §7.1 M5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EVENTS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """documents from JSONL (one JSON object per line).  Corrupt lines
    land in `_corrupt_record` instead of failing the 100 TB job
    (PERMISSIVE) — count them before trusting a drop.  Note Spark's
    contract: a query touching ONLY `_corrupt_record` must run on a
    cached/materialized parse (`.cache()` first), not the raw files."""
    # StructType.add mutates in place — build a fresh struct instead of
    # appending to the shared module-level schema
    schema = T.StructType(
        list(DOCUMENTS_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def write_documents_jsonl(df: DataFrame, path: str, shards: int = 0) -> None:
    """Shard-balanced JSONL writer (gzip-free: keep files splittable)."""
    if shards > 0:
        df = df.repartition(shards)
    df.write.mode("overwrite").json(path)


def read_events_csv(spark: SparkSession, path: str) -> DataFrame:
    """events from headered CSV.  `props` holds embedded JSON — quoted
    with escaped quotes, still line-splittable (multiLine stays False so
    the input splits; writers must therefore strip raw newlines from
    props, which `write_events_csv` does)."""
    return (
        spark.read.schema(EVENTS_CSV_SCHEMA)
        .option("header", "true")
        .option("escape", '"')
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )


def write_events_csv(df: DataFrame, path: str, shards: int = 0) -> None:
    from pyspark.sql import functions as F

    if shards > 0:
        df = df.repartition(shards)
    # keep rows line-splittable: forbid raw newlines inside quoted fields
    df = df.withColumn("props", F.regexp_replace("props", "[\\r\\n]", " "))
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("escape", '"')
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )


def read_table_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """ORC reader (built into Spark, no external package).  Schema is
    still pinned — ORC carries its own schema but pinning keeps drops
    from silently widening types; ORC stripes are splittable and carry
    min/max indexes, so predicate pushdown prunes stripes at scan."""
    return spark.read.schema(schema).orc(path)


def write_table_orc(df: DataFrame, path: str, shards: int = 0) -> None:
    """ORC writer with optional shard balancing (zlib default codec —
    splittable at stripe granularity, unlike gzipped text)."""
    if shards > 0:
        df = df.repartition(shards)
    df.write.mode("overwrite").orc(path)
