"""Scale-adaptive scan fan-out (guide §2.4: remove shuffles outright).

The driver fixtures are single parquet files, which Spark reads as ONE
input split — every explode/mapInPandas-heavy pipeline downstream would
run on one core (the single-file lesson in CLAUDE.md).  The build
rounds therefore pinned ``.repartition(defaultParallelism)`` after the
scan at ~60 call sites.  That constant-shaped fix is wrong at the other
end of the scale: a 100 TB table scans as tens of thousands of splits,
and an unconditional repartition round-robins the ENTIRE corpus —
payload bytes included — through one full shuffle (plus the local sort
every keyless repartition pays, SPARK-23207) for zero benefit.

``fan_out`` makes the decision data-derived: repartition only when the
scan actually under-parallelizes the session.  On the single-file
fixtures the condition always fires, so local plans (and the bench) are
byte-identical to the pinned form; on a many-split input the shuffle
vanishes from the plan.

Chainable: ``load_table(spark, sf_dir, "documents").transform(fan_out,
spark, "doc_id")``.

Nearest built-in: `repartition`; `fan_out` stays because the fixtures
are single-row-group files that Spark reads as one split, while an
unconditional repartition would shuffle a many-split input for nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def fan_out(df: DataFrame, spark: SparkSession, *cols: str) -> DataFrame:
    """Repartition ``df`` to the session parallelism unless its physical
    plan already yields at least that many partitions.

    ``cols`` selects hash partitioning on those columns (callers that
    feed a keyed operation), otherwise round-robin.

    CONTRACT (r07 ADVICE): apply fan_out ONLY to a scan-shaped
    DataFrame — ``load_table(...)`` output plus narrow projections /
    filters.  For such exchange-free plans the ``.rdd`` probe is pure
    driver-side split planning (no job); on a DataFrame with upstream
    shuffles, AQE would materialize the query stages to answer it
    (i.e. run jobs at plan-construction time).  All call sites in
    plans/ sit directly on the scan.  The probe does instantiate the
    physical plan (file-split enumeration) once per call site; on a
    huge catalog prefer deriving the split count from catalog stats if
    that ever shows up in driver profiles.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
