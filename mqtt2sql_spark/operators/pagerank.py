"""Exact-integer PageRank — iterative propagation as a Spark loop.

The rank vector lives as a DataFrame (v, deg, s); each iteration is an
edges-join + hash aggregate, so the work distributes like any other
shuffle — no driver-side adjacency, no collect.  The classic float
formulation cannot hash-match across engines (summation order), so the
scores are pure integers: Q = 1e12 total mass,

    s_0(v)    = Q DIV N
    s_{k+1}(v) = (15 * (Q DIV N) + 85 * Σ_{u→v} (s_k(u) DIV deg(u)))
                 DIV 100

— every operation floor-division on non-negative BIGINTs, identical on
any engine, so a fixed iteration count yields a bit-exact spec (the
floors leak a little mass; ranking fidelity is unaffected and the leak
is part of the spec).

Scale notes: the edge list is the big relation and is shuffled on src
once per iteration (pre-partitioning it on src makes every iteration's
join co-located); the rank relation is |V| rows.  Lineage is truncated
with a lazy localCheckpoint every few iterations — the dedup_components
treatment for iterative plans.

Nearest built-in: none in PySpark — PageRank lives in GraphX (Scala
only) and GraphFrames, neither a dependency of this project, so this
module stays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.materialize import snapshot

Q_MASS = 10**12


def pagerank_int(edges: DataFrame, n_iter: int = 8) -> DataFrame:
    """Integer PageRank over a directed edge list (src, dst).

    Returns (v, deg, s).  Nodes are the sources appearing in ``edges``
    (for an undirected graph pass both directions, so every node has
    deg >= 1).
    """
    spark = edges.sparkSession
    # co-locate every iteration's join AND make per-iteration work
    # deterministic in layout; the checkpoint stops re-reading upstream
    edges = edges.repartition(
        spark.sparkContext.defaultParallelism, "src"
    ).transform(snapshot, eager=False)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    ).withColumnRenamed("src", "v")
    n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    # base = the teleport term numerator, attached as a broadcast scalar
    base = deg.crossJoin(F.broadcast(n)).select(
        "v",
        "deg",
        F.expr(f"CAST({Q_MASS} DIV n_nodes AS BIGINT)").alias("s0"),
    ).transform(snapshot, eager=False)

    p = base.select("v", "deg", F.col("s0").alias("s"))
    for k in range(n_iter):
        # r08 (guide §3.1 + the repo's static-misestimate rule): without
        # a hint the planner BROADCASTS the edge relation into every
        # iteration's join (witnessed in plans/r08/pagerank_copurchase
        # _before.txt: one BroadcastExchange of the |E|-grain snapshot
        # per iteration — a per-iteration driver collect of the largest
        # relation in the query, a guaranteed maxResultSize death at
        # scale, and it throws away the src pre-partitioning paid for
        # above).  shuffle_hash on the RANK side makes it the build
        # side (|V| rows, bounded per partition); the edge side streams
        # in place — its LogicalRDD keeps hash(src) partitioning, so no
        # per-iteration edge exchange either.
        inc = (
            p.hint("shuffle_hash").join(edges, p["v"] == edges["src"])
            .select(
                F.col("dst").alias("iv"),
                F.expr("CAST(s DIV deg AS BIGINT)").alias("share"),
            )
            .groupBy("iv")
            .agg(F.sum("share").alias("t"))
        )
        # inc is |V|-grain (corpus-scaling) — same rule: hash join it,
        # never broadcast; BuildRight on the aggregated side is bounded
        # by the groupBy's partitioning.
        p = (
            base.join(
                inc.hint("shuffle_hash"), base["v"] == inc["iv"], "left"
            )
            .select(
                "v",
                "deg",
                F.expr(
                    "CAST((15 * s0 + 85 * coalesce(t, 0)) DIV 100 AS BIGINT)"
                ).alias("s"),
            )
        )
        if k % 3 == 2:  # truncate the growing lineage
            p = p.transform(snapshot, eager=False)
    return p
