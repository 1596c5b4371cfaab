"""Two-sample tests over (value, ca, cb) count relations.

Both operators consume a PRE-AGGREGATED relation — one row per distinct
value with the two samples' counts at that value — and share one shape:
a running sum ordered by value (one window, ``_BY_VALUE``) followed by
one distributive aggregate.  Every emitted number is an exact integer
(rationals cross-multiplied), so results are bit-stable across engines
and partitionings.

Snapshot note: the ``eager=True`` snapshots here (and in ~20 plan
functions) go through ``operators/materialize.snapshot`` — by default
a localCheckpoint (deliberate LOCAL-BENCH tradeoff: executes Spark
jobs at plan-construction time, so plan-only consumers such as
tools/audit_plans.py run the upstream pipeline when they call fn(),
and blocks are non-recoverable on executor loss), switchable to
``persist(StorageLevel.DISK_ONLY)`` with recoverable lineage via
``MQTT2SQL_RELIABLE_SNAPSHOT=1`` for multi-executor cluster runs.
Eager local snapshots stay the local default because they guarantee a
single deterministic materialization across plan branches on local[N].

Nearest built-in: none — `pyspark.ml.stat.KolmogorovSmirnovTest` is a
one-sample float test and Spark has no Mann-Whitney; the module stays
because the KS and Mann-Whitney queries share its exact-integer forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.materialize import snapshot

# inclusive prefix in value order (values are distinct in the input)
_BY_VALUE = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)


def ks_statistic(base: DataFrame) -> DataFrame:
    """Two-sample KS over (value, ca, cb): one row with n_a, n_b,
    d_num, d_den (D = d_num/d_den), argmax_v_fp (1e-4 fixed point)."""
    # base (value-grain, already aggregated) feeds both the prefix sums
    # and the totals, and diffs feeds both the max and its argmax —
    # materialize each once so the upstream fact scan runs once, not 4x
    base = base.transform(snapshot, eager=True)
    cum = base.select(
        "value",
        F.sum("ca").over(_BY_VALUE).alias("cca"),
        F.sum("cb").over(_BY_VALUE).alias("ccb"),
    )
    tot = base.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    # cross-multiplied rationals in DECIMAL(38,0): cca*nb products
    # overflow int64 past ~3e9 rows per side; the oracle's arithmetic
    # is already 128-bit (DuckDB window sums surface as HUGEINT), so
    # the widened Spark side matches it at any scale.  The compared
    # surface stays BIGINT (d_num cast below).
    dec = "decimal(38,0)"
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "value",
        F.abs(
            F.col("cca").cast(dec) * F.col("nb").cast(dec)
            - F.col("ccb").cast(dec) * F.col("na").cast(dec)
        ).alias("dnum"),
    ).transform(snapshot, eager=True)
    mx = diffs.agg(F.max("dnum").alias("d_num"))
    arg = diffs.join(F.broadcast(mx), F.col("dnum") == F.col("d_num")).agg(
        F.min(F.expr("CAST(floor(value * 10000) AS BIGINT)")).alias(
            "argmax_v_fp"
        )
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(arg))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.col("d_num").cast("long").alias("d_num"),
            (F.col("na") * F.col("nb")).cast("long").alias("d_den"),
            "argmax_v_fp",
        )
    )


def mannwhitney_u(base: DataFrame) -> DataFrame:
    """Mann-Whitney U over (value, ca, cb): one row with n_a, n_b and
    the doubled statistics u2_a, u2_b (midranks stay integral at 2x)."""
    # same two-consumer shape as ks_statistic: rank sum + totals both
    # read base — one materialization, one upstream scan
    base = base.transform(snapshot, eager=True)
    b = base.withColumn("c", F.col("ca") + F.col("cb"))
    cum = b.withColumn("cprev", F.sum("c").over(_BY_VALUE) - F.col("c"))
    # rank-sum products in DECIMAL(38,0): ca * (2*cprev + c + 1) sums
    # to ~2N^2, past int64 at ~2e9 rows; DuckDB's sum is HUGEINT.
    dec = "decimal(38,0)"
    r = cum.agg(
        F.sum(
            F.col("ca").cast(dec)
            * (2 * F.col("cprev") + F.col("c") + 1).cast(dec)
        ).alias("r2a")
    )
    tot = base.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    u2a = F.col("r2a") - (
        F.col("na").cast(dec) * (F.col("na") + 1).cast(dec)
    )
    return r.crossJoin(F.broadcast(tot)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        u2a.cast("long").alias("u2_a"),
        (
            F.lit(2).cast(dec)
            * F.col("na").cast(dec)
            * F.col("nb").cast(dec)
            - u2a
        ).cast("long").alias("u2_b"),
    )
