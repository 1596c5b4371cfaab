"""Per-key EWMA anomaly detection — batch/stream parity pair.

The engine's one arbitrary-state operator (applyInPandasWithState): an
exponentially-weighted mean/variance per key, flagging points whose
squared deviation from the PRE-UPDATE mean exceeds k²·var — the
standard online drift/outlier monitor for sensor fleets (per-topic) at
MQTT scale.  The reference stores raw history and leaves
analysis to SQL readers (README.md:228-235); this pushes the monitor
into the stream so 100 TB of raw points never need a second pass.

Design for state-store scale: state per key is THREE floats
(mean, var, n) — constant size, no growth with stream length; the same
recurrence runs in both forms:

  * batch (`ewma_anomalies_batch`): applyInPandas per key over the full
    sorted history — the oracle-able reference semantics;
  * stream (`ewma_anomalies_stream`): applyInPandasWithState carrying
    (mean, var, n) across micro-batches.

Identical Python floats on both paths ⇒ the stream over any slicing of
the input equals the batch output exactly (tested), the same
batch/stream-parity contract the upsert sink's diff-only history meets.

Recurrence (alpha-EWMA, Welford-flavored EW variance):
    flag     = n >= min_n and (x - mean)² > k²·max(var, eps)
    mean'    = mean + alpha·(x - mean)
    var'     = (1 - alpha)·(var + alpha·(x - mean)²)
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ALPHA = 0.25
K = 3.0
MIN_N = 5
EPS = 1e-9

OUTPUT_SCHEMA = (
    "topic string, ts timestamp, event_id long, x double, is_anomaly int"
)
STATE_SCHEMA = "mean double, var double, n long"


def _step(mean: float, var: float, n: int, x: float) -> tuple[bool, float, float, int]:
    d = x - mean
    flag = n >= MIN_N and d * d > K * K * max(var, EPS)
    if n == 0:
        # first observation seeds the mean; variance stays 0
        return False, x, 0.0, 1
    mean2 = mean + ALPHA * d
    var2 = (1.0 - ALPHA) * (var + ALPHA * d * d)
    return flag, mean2, var2, n + 1


def _run_series(pdf, topic: str, mean: float, var: float, n: int):
    rows = []
    for _, row in pdf.iterrows():
        flag, mean, var, n = _step(mean, var, n, float(row["x"]))
        rows.append(
            (topic, row["ts"], int(row["event_id"]), float(row["x"]),
             int(flag))
        )
    return rows, mean, var, n


def ewma_anomalies_batch(df: DataFrame) -> DataFrame:
    """Batch twin: full history per key, sorted by (ts, event_id)."""
    import pandas as pd

    def fit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        topic = pdf["topic"].iloc[0]
        rows, _m, _v, _n = _run_series(pdf, topic, 0.0, 0.0, 0)
        return pd.DataFrame(
            rows, columns=["topic", "ts", "event_id", "x", "is_anomaly"]
        )

    return df.groupBy("topic").applyInPandas(fit, schema=OUTPUT_SCHEMA)


def _stream_fn(
    key: tuple[str], pdfs: Iterator[Any], state: GroupState
) -> Iterator[Any]:
    import pandas as pd

    (topic,) = key
    mean, var, n = state.get if state.exists else (0.0, 0.0, 0)
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        rows, mean, var, n = _run_series(pdf, topic, mean, var, int(n))
        out.extend(rows)
    state.update((float(mean), float(var), int(n)))
    if out:
        yield pd.DataFrame(
            out, columns=["topic", "ts", "event_id", "x", "is_anomaly"]
        )


def ewma_anomalies_stream(stream: DataFrame) -> DataFrame:
    """Streaming form: constant-size (mean, var, n) state per key."""
    return stream.groupBy("topic").applyInPandasWithState(
        _stream_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
