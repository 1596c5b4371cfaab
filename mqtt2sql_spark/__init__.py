"""mqtt2sql_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of curzon01/mqtt2sql, rebuilt Spark-first.

The reference is a continuous MQTT→SQL ingestion bridge; its end-to-end
dataflow is
    stream source → filter → projection → keyed upsert (latest per topic)
    → conditional CDC append (optionally diff-only) → equi-join view
(see SURVEY.md §0-§2).  This package re-expresses that dataflow — plus the
large-scale training-data-pipeline extensions (dedup, similarity search,
text analysis, multimodal plumbing) — as idiomatic DataFrame / SQL /
Structured Streaming plans that Catalyst can optimize.

Layout:
    __main__.py    the ingest daemon CLI (python -m mqtt2sql_spark)
    session.py     SparkSession factory tuned for local[N] and cluster scale
    config.py      MQTT URL grammar and daemon config-file parsing
    logutil.py     verbosity levels and strftime-named logfiles
    fixtures.py    canonical message/mqtt/history derivations from `events`
    registry.py    the oracle-checked query registry (imports every plan)
    plans/         QuerySpecs: each query = Spark builder + DuckDB oracle SQL
    operators/     relational operators the plans share (upsert, history,
                   as-of, snapshots, graph and stats operators)
    functions/     scalar expression helpers (topic wildcards, text)
    sources/       MQTT Python DataSource (WAL offsets; paho gated,
                   file-spool and memory transports)
    sinks/         upsert sink: parquet latest table + diff-only history
    streaming/     ingest pipeline (filters → upsert sink), query progress
                   logging and graceful shutdown
"""

__version__ = "0.1.0"
