"""Keyed upsert = last-value-per-key (SURVEY.md §2 A5/A6).

Batch form of the reference's INSERT..ON DUPLICATE KEY UPDATE
(/root/reference/mqtt2sql.py:579-629): keep the row with the maximum
(order) per key.  One row_number window — a single hash shuffle on the
key; at stream scale the same logic runs per micro-batch with the merge
done by the sink (sinks/upsert.py).

Nearest built-in: a `max_by(struct)` aggregate would do the same; the
module stays so the fixtures and the streaming sink share one upsert
rule with one tie-break order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    key: str | Sequence[str] = "topic",
    order: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Latest row per key under a total descending (order) — the
    tie-breaker columns make per-key ordering deterministic, which the
    reference never guaranteed (SURVEY.md §3.1; deliberate improvement)."""
    keys = [key] if isinstance(key, str) else list(key)
    w = W.partitionBy(*keys).orderBy(*[F.desc(c) for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
