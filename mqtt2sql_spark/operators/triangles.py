"""Degree-oriented exact triangle counting (compact-forward, Latapy
2008) over an undirected distinct edge list.

Naive triangle counting (edges x edges x edges on shared endpoints)
materializes EVERY wedge — O(sum(d²)) rows, dominated by hub vertices
(measured at sf0.1: 148M id-order wedges, 12.4 s).  Directing each edge
from the (degree, id)-smaller endpoint to the larger is acyclic and
gives every triangle exactly one (source, middle, sink), so the count
is unchanged while hubs get tiny OUT-degree; the per-edge count is then
|N+(u) ∩ N+(v)| via a codegen'd array_intersect over broadcast
out-adjacency lists — no wedge row ever materializes.  At a scale where
the adjacency relation outgrows the broadcast budget this degrades
gracefully to a shuffle join — still no wedge materialization.

Shared by triangle_count_copurchase and global_clustering_coefficient
(plans/analytics.py, plans/similarity.py).

Nearest built-in: none in PySpark — triangle counting lives in GraphX
(Scala only) and GraphFrames, neither a dependency of this project, so
this module stays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.materialize import snapshot


def oriented_triangle_count(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Exact triangle count.

    ``edges``: distinct undirected edges as columns (a, b) with a < b.
    ``deg``: vertex degrees as columns (v, d).
    Returns a single-row DataFrame with column ``n_tri`` (long).
    Both inputs are consumed more than once — pass them materialized
    (localCheckpoint) when their upstream is expensive.
    """
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    keyed = edges.join(da, "a").join(db, "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    e_dir = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).transform(snapshot, eager=False)
    adj = e_dir.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nb")
    )
    return (
        e_dir.join(
            F.broadcast(
                adj.select(F.col("src").alias("u"), F.col("nb").alias("nu"))
            ),
            F.col("src") == F.col("u"),
        )
        .join(
            F.broadcast(
                adj.select(F.col("src").alias("v"), F.col("nb").alias("nv"))
            ),
            F.col("dst") == F.col("v"),
        )
        .agg(
            F.sum(F.size(F.array_intersect("nu", "nv")))
            .cast("long")
            .alias("n_tri")
        )
    )
