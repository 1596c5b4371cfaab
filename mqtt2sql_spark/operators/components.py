"""Connected components by alternating large-star / small-star contraction.

Near-dup candidate pairs form a graph; the dedup *decision* needs its
transitive closure (A~B, B~C ⇒ {A,B,C} share one canonical doc).  This is
the one genuinely iterative operator in the engine: a driver-side loop of
DataFrame steps, converging when the edge set is a star forest — the
public "Connected Components in MapReduce and Beyond" recipe (Kiveris et
al., 2014), the algorithm GraphFrames uses, expressed with joins +
aggregates so it runs on any Spark.

Why star contraction instead of the previous min-label propagation
(r08, guide §2 skew / §1.2 algorithm-first):

- label propagation joins the FULL edge relation every round and needs
  ~diameter rounds (the propagated min moves one hop per round by
  construction — a 2000-vertex chain needs ~2000 rounds); star
  contraction rewrites the edge set itself, so round count is
  logarithmic in the component size (measured: 11 rounds on the same
  2k-chain), and the relation it joins collapses toward one star edge
  per non-root vertex however big |E| was — later rounds are ~|V| work.
- every per-round message is a (vertex, min) pair — no label table is
  carried beside the edges, so each round is one groupBy + one
  co-partitioned join + one distinct.

Both phases only compute mins over neighbor sets, so the fixpoint is
unique and deterministic under any partitioning: each non-minimum vertex
ends pointing at its component's minimum id (parents are always smaller
than children, so the unique possible root of a star is the component
min — the same labeling min-label propagation converges to).

Scale: each phase is one shuffle by vertex over the CURRENT edge set
(shrinking), plus a distinct.  localCheckpoint per phase truncates the
growing lineage, which would otherwise re-execute the whole history
every iteration.  The min-relation joins carry explicit shuffle_hash
hints — they are corpus-grain build sides, the class the planner's
static row estimates provably mis-broadcast (r07 rule).

Nearest built-in: none — Spark has no connected-components operator
without GraphFrames, which this project does not depend on, so this
module stays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.materialize import snapshot


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to min(N(u) ∪ {u})."""
    sym = e.select("u", "v").union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mn = (
        sym.groupBy("u")
        .agg(F.min("v").alias("m"))
        .select("u", F.least("m", F.col("u")).alias("m"))
    )
    return (
        sym.join(mn.hint("shuffle_hash"), "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect u and every smaller neighbor to min(smaller N(u))."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mn = o.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        o.join(mn.hint("shuffle_hash"), "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_e = mn.select("u", F.col("m").alias("v"))
    return moved.union(self_e).distinct()


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    vertex: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """(vertex, component) with component = min vertex id reachable.

    `vertices` fixes the universe (isolated vertices become singleton
    components).  Deterministic: star contraction's fixpoint is the
    unique min-rooted star forest.
    """
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.least(F.col(src), F.col(dst)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(snapshot)
    )
    for _ in range(max_iter):
        e = _large_star(e).transform(snapshot)
        e = _small_star(e).transform(snapshot)
        # converged iff e is a star forest: depth 1 (no edge's parent is
        # another edge's child) AND unique parent per child.  One
        # aggregate over the materialized snapshot answers both: the
        # left join to the distinct children matches at most once per
        # edge, so count(c) counts the chained edges and count(*) stays
        # |e|.  Checking only depth-1 is NOT enough (a child with two
        # root parents is depth-1 but not yet contracted).
        children = e.select(F.col("u").alias("c")).distinct()
        chains, n_edges, n_children = (
            e.join(children, F.col("v") == F.col("c"), "left")
            .agg(
                F.count("c"), F.count(F.lit(1)), F.countDistinct("u")
            )
            .first()
        )
        if chains == 0 and n_edges == n_children:
            break
    base = vertices.select(
        F.col(vertex), F.col(vertex).cast("long").alias("lu")
    )
    # e is the bounded star forest (<= |V| rows, one per non-root
    # vertex) — hash-join it as the build side, never sort the
    # vertex-grain stream.  Snapshot the mapping so multi-branch
    # consumers (size histograms, canonical-doc picks) reuse one
    # materialization instead of re-running the join per branch
    # (witnessed: plans/r08/dedup_components_after showed the
    # vertices-join duplicated across both aggregate branches before
    # this snapshot).
    return (
        base.join(e.hint("shuffle_hash"), base["lu"] == e["u"], "left")
        .select(
            F.col(vertex),
            F.coalesce("v", F.col("lu")).alias("component"),
        )
        .transform(snapshot, eager=False)
    )
