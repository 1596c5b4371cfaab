"""Shared-branch materialization with a cluster-survivable mode.

Many plans materialize a shared sub-plan exactly once so that several
downstream consumers (joins, totals, window branches) reuse one
physical result instead of re-executing the upstream pipeline per
action.  Two strategies implement that contract:

* **local snapshot** (default): ``DataFrame.localCheckpoint`` —
  truncates lineage and guarantees a single deterministic
  materialization across plan branches on ``local[N]``.  Its blocks
  live only on the executors that computed them, so on a real
  multi-executor cluster a single executor loss makes every downstream
  stage fail unrecoverably.

* **reliable snapshot** (``MQTT2SQL_RELIABLE_SNAPSHOT=1``):
  ``persist(StorageLevel.DISK_ONLY)`` — keeps the lineage, so a lost
  executor's partitions are recomputed instead of failing the query.
  ``eager=True`` forces materialization with a ``count()`` action
  (mirroring ``localCheckpoint(eager=True)``); recomputation stays
  deterministic because every snapshot input in this repo derives its
  partitioning from data (never from sampled ``repartitionByRange``
  boundaries).

Call sites use the idiomatic chainable form::

    df.transform(snapshot, eager=False)

On a 100 TB cluster run, set ``MQTT2SQL_RELIABLE_SNAPSHOT=1`` (and
optionally a reliable ``spark.sparkContext.setCheckpointDir`` for the
iterative operators) so long jobs survive executor churn; the local
bench keeps the localCheckpoint default because eager local snapshots
are measurably faster at local[32] and node loss cannot happen in a
single JVM.

Nearest built-ins: `localCheckpoint` and `persist` themselves; the
module stays as the one switch between them.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_ENV_FLAG = "MQTT2SQL_RELIABLE_SNAPSHOT"


def reliable_mode() -> bool:
    """True when snapshots must survive executor loss (cluster runs)."""
    return os.environ.get(_ENV_FLAG, "0") not in ("", "0", "false", "no")


def snapshot(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a shared plan branch once; see module docstring."""
    if reliable_mode():
        out = df.persist(StorageLevel.DISK_ONLY)
        if eager:
            out.count()
        return out
    return df.localCheckpoint(eager=eager)
