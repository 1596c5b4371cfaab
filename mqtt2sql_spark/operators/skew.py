"""Skew-aware aggregation via key salting (SURVEY.md §7.1 M6).

A hot key (one topic receiving most of a 100 TB stream) serializes a
plain groupBy into one reducer.  Salting splits each key into
`salt_buckets` sub-keys for the first (parallel) aggregation, then
combines the partial results in a second, tiny aggregation.  Results are
bit-identical to the unsalted plan for decomposable aggregates
(count/sum/min/max) — asserted against the plain-GROUP-BY oracle.

AQE's skew-join splitting handles *join* skew automatically; salting is
the aggregation-side counterpart you opt into per hot key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_count_sum(
    df: DataFrame,
    key: str,
    sum_cols: Sequence[str] = (),
    salt_buckets: int = 16,
    salt_on: Column | None = None,
) -> DataFrame:
    """groupBy(key).agg(count, sum(sum_cols...)) with two-phase salting.

    `salt_on` defaults to a deterministic spread column (crc32 of the
    row's unique attributes would do; pmod of a hash keeps it cheap).
    """
    salt = (
        F.pmod(F.crc32(F.col(key).cast("string")) + F.monotonically_increasing_id(), F.lit(salt_buckets))
        if salt_on is None
        else salt_on
    )
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[F.sum(c).alias(f"_s_{c}") for c in sum_cols],
        )
    )
    return phase1.groupBy(key).agg(
        F.sum("_n").alias("n"),
        *[F.sum(f"_s_{c}").alias(f"sum_{c}") for c in sum_cols],
    )

