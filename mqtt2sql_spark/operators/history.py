"""CDC history emission (SURVEY.md §2 A8-A10).

The reference's trigger cascade (/root/reference/mysql.sql:77-91) emits a
history row per message when the topic's `history_enable` flag is set,
suppressing rows equal to the immediately-previous value per topic when
`history_diffonly` is set (MySQL cadence: the first message per topic is
always recorded when enabled — SURVEY.md §4.3).

Batch operator: broadcast join against the control dimension + one lag
window per topic.  The streaming form (sinks/upsert.MqttUpsertSink) seeds
that lag with the pre-batch `mqtt` value per topic, so suppression works
across micro-batches without a state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def history_rows(
    messages: DataFrame,
    control: DataFrame,
    value_col: str = "value_str",
    order: tuple[str, str] = ("ts", "event_id"),
    seed_col: str | None = None,
) -> DataFrame:
    """Messages that qualify for history under the per-topic flags.

    `control` must carry (topic, id, history_enable, history_diffonly);
    output keeps all message columns plus topicid.  `seed_col`, a
    `control` column, holds each topic's value from before `messages`
    (NULL for a new topic): the first message is diffed against it.
    """
    w = W.partitionBy("topic").orderBy(*order)
    prev = F.lag(value_col).over(w)
    if seed_col:
        prev = F.coalesce(prev, F.col(seed_col))
    base = messages.join(F.broadcast(control), "topic").withColumn(
        "_prev", prev
    )
    kept = base.filter(
        (F.col("history_enable") == 1)
        & (
            (F.col("history_diffonly") == 0)
            | F.col("_prev").isNull()
            | (F.col("_prev") != F.col(value_col))
        )
    )
    kept = kept.drop("_prev", "history_enable", "history_diffonly")
    if seed_col:
        kept = kept.drop(seed_col)
    return kept.withColumnRenamed("id", "topicid")
