"""SparkSession factory.

Tuned for the test harness (single-JVM local[N]) but with every setting
chosen to also be correct on a 1000-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting) so a plan built at
  sf0.01 survives a 10^4 scale-up without re-tuning shuffle partitions.
- ``spark.sql.session.timeZone=UTC`` pins timestamp semantics; the
  reference stores UTC and renders per-session tz
  (/root/reference/mqtt2sql.py:304-312, README.md:237-251) — we do the
  same via session tz + from_utc_timestamp (SURVEY.md §2 A12).
- Arrow enabled for the Python-side operators that remain (pandas UDF,
  mapInPandas, applyInPandas); none is row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "mqtt2sql_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to the core count: at local scale the
    default 200 over-parallelizes tiny shuffles; on a real cluster the
    caller sizes it to ~2-3x total cores (AQE coalescing then trims).
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r07 (guide §3.1): let AQE rewrite a SortMergeJoin to a
        # ShuffledHashJoin when every post-shuffle partition of the
        # build side is small AT RUNTIME (observed bytes, not
        # estimates — so unlike a global preferSortMergeJoin flip or a
        # static hint this cannot pick a hash build the data outgrows).
        # Default 0 disables the rule; 64 MB per-partition build keeps
        # task memory bounded on any cluster and drops both sorts from
        # the ~30 registry joins whose build side is modest.
        # COUPLING (r07 ADVICE): the AQE rule only fires while this
        # threshold >= spark.sql.adaptive.advisoryPartitionSizeInBytes
        # (default 64 MB here) — a deployment that raises the advisory
        # size must raise this threshold with it or the SMJ->SHJ
        # conversion silently turns off.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver fixtures store events.ts as parquet TIMESTAMP(NANOS), which
        # Spark's vectorized reader rejects; read as long and let
        # fixtures.load_table convert ns→µs (matching DuckDB's truncation)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
