"""Similarity search over the `embeddings` table (array<float> len=64).

Two paths, mirroring a production ANN design:
  * brute-force cosine top-k — the exact baseline; JVM-side
    zip_with/aggregate fold (no Python UDF), broadcast of the small query
    set, window top-k per query;
  * sign-LSH (random-hyperplane) bucketed top-k — the 100 TB path: a
    64-bit-derived ±1 projection matrix (deterministic from md5, so both
    engines and any two cluster runs agree), 6-bit bucket keys, candidate
    generation by bucket equi-join instead of O(n·m) compare.

Ranking determinism across engines: rank on round(cos, 6) with vec_id
tie-break; output cosine rounded to 4.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.materialize import snapshot

from mqtt2sql_spark.fixtures import load_table
from mqtt2sql_spark.operators.partitioning import fan_out
from mqtt2sql_spark.plans.base import REGISTRY, register

DIM = 64
# Multi-table sign-LSH (E2LSH-style): single-table recall on weakly
# correlated neighbours is (1-θ/π)^k ≈ 6% at k=6 — useless.  L tables of
# k planes give 1-(1-(1-θ/π)^k)^L ≈ 75% at θ≈66°, the standard
# recall/candidate-count trade.
N_PLANES = 4   # k: planes per table → 16 buckets/table
N_TABLES = 8   # L: independent tables
TOP_K = 5
QUERY_MOD = 50  # query set = vec_id % 50 == 0


def _plane_coef(table: int, plane: int, dim: int) -> int:
    """Deterministic ±1 projection coefficient from md5 (public SRP
    construction with Rademacher entries).  Must equal the SQL
    expression instr(hex, substring(md5(t||'/'||p||'|'||d),1,1)) % 2."""
    nibble = int(
        hashlib.md5(f"{table}/{plane}|{dim}".encode()).hexdigest()[0], 16
    )
    return 1 if nibble % 2 == 1 else -1


_COEFS = [
    [[_plane_coef(t, p, d) for d in range(DIM)] for p in range(N_PLANES)]
    for t in range(N_TABLES)
]


def _dot(u, v):
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file fixture → single input split; the higher-order-function
    # dot products (ArrayAggregate is interpreted, not codegen'd) need the
    # fan-out to use all cores — at corpus scale the scan is already split
    return (
        load_table(spark, sf_dir, "embeddings")
        .transform(fan_out, spark, "vec_id")
        .select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
    )


def _duck_coef_list(t: int, p: int) -> str:
    return "[" + ", ".join(f"{c}.0" for c in _COEFS[t][p]) + "]"


_DUCK_COS = (
    "list_inner_product(q.e, c.e) / "
    "(sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e)))"
)


# --- brute-force cosine top-k ---------------------------------------------


@register(
    "ann_cosine_topk",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT query_id, vec_id, cos, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               round({_DUCK_COS}, 4) AS cos,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
               ) AS BIGINT) AS rank
        FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
    ) WHERE rank <= {TOP_K}
    """,
    doc="Brute-force cosine top-k: broadcast the query set against the "
    "corpus, fold the dot product JVM-side, window top-k per query — the "
    "exact-ANN correctness baseline.",
    bench=True,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    joined = emb.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("qe"), F.col("e")) / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cos6"), 6)), F.asc("vec_id")
    )
    return (
        joined.select(
            "query_id", "vec_id", cos.alias("cos6")
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "vec_id",
            F.round("cos6", 4).alias("cos"),
            "rank",
        )
    )


# --- sign-LSH bucketed top-k ----------------------------------------------


def lsh_buckets(
    spark: SparkSession, sf_dir: str, pre_filter=None
) -> DataFrame:
    """Long layout: (vec_id, e, tbl, bucket) — one row per hash table.

    All L·k projections for an Arrow batch are ONE numpy einsum against
    the (tiny, task-local) ±1 coefficient tensor — a map-only stage with
    zero shuffle.  Spark-side alternatives measured at sf0.1: per-row
    higher-order folds are interpreted (2.3 s), the posexplode+join+agg
    formulation is codegen'd but pays ~6 shuffle stages (3.5-5 s); the
    vectorized map wins at every scale because it shuffles nothing and
    BLAS-batches the math.

    ``pre_filter`` (a Column predicate) is applied BEFORE the
    mapInPandas stage: Python map stages are a predicate-pushdown
    barrier, so a caller that only needs the query subset must filter
    here or pay the full-corpus einsum for it (measured 2× on the whole
    ann_lsh_topk query at sf0.1)."""
    import numpy as np
    import pandas as pd

    emb = _emb(spark, sf_dir)
    if pre_filter is not None:
        emb = emb.filter(pre_filter)
    coef = np.array(_COEFS, dtype=np.float64)  # (L, k, D)
    shifts = 1 << np.arange(N_PLANES, dtype=np.int64)

    def project(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.array(list(pdf["e"]), dtype=np.float64)  # (m, D)
            proj = np.einsum("md,tpd->mtp", a, coef)  # (m, L, k)
            buckets = ((proj > 0).astype(np.int64) * shifts).sum(axis=2)
            m = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), N_TABLES),
                    "e": [e for e in pdf["e"] for _ in range(N_TABLES)],
                    "tbl": np.tile(np.arange(N_TABLES), m).astype(np.int32),
                    "bucket": buckets.reshape(-1).astype(np.int32),
                }
            )

    return emb.mapInPandas(
        project, "vec_id long, e array<double>, tbl int, bucket int"
    )


def _duck_bucket(t: int) -> str:
    return " + ".join(
        f"(CASE WHEN list_inner_product({_duck_coef_list(t, p)}, e) > 0 "
        f"THEN 1 ELSE 0 END) * {1 << p}"
        for p in range(N_PLANES)
    )


_DUCK_BKT_UNION = " UNION ALL ".join(
    f"SELECT vec_id, e, {t} AS tbl, CAST({_duck_bucket(t)} AS INTEGER) AS bucket FROM emb"
    for t in range(N_TABLES)
)


@register(
    "ann_lsh_topk",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    bkt AS ({_DUCK_BKT_UNION}),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
        FROM bkt q JOIN bkt c
          ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
    )
    SELECT query_id, vec_id, cos, rank FROM (
        SELECT cand.query_id, cand.vec_id,
               round({_DUCK_COS}, 4) AS cos,
               CAST(row_number() OVER (
                   PARTITION BY cand.query_id
                   ORDER BY round({_DUCK_COS}, 6) DESC, cand.vec_id
               ) AS BIGINT) AS rank
        FROM cand
        JOIN emb q ON q.vec_id = cand.query_id
        JOIN emb c ON c.vec_id = cand.vec_id
    ) WHERE rank <= {TOP_K}
    """,
    doc="Multi-table sign-LSH ANN (E2LSH banding): "
    f"{N_TABLES} tables × {N_PLANES} deterministic ±1 hyperplanes, "
    "candidates from an equi-join on (table, bucket), exact cosine "
    "re-rank of the deduped candidate set — the 100 TB path (candidate "
    "count scales with bucket occupancy, not corpus²); recall vs "
    "ann_cosine_topk asserted in tests.",
    bench=True,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # carry the vectors through the bucket join and score immediately:
    # one broadcast hash join on (tbl, bucket), distinct on the scored
    # pair (the same pair colliding in several tables scores identically),
    # then the per-query top-k window.  Exactly two references to the
    # bucket subplan (corpus side + filtered query side) — re-joining a
    # separate candidate set back to the corpus would add two more.
    bkt = lsh_buckets(spark, sf_dir)
    q = lsh_buckets(
        spark, sf_dir, pre_filter=F.col("vec_id") % QUERY_MOD == 0
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("tbl").alias("qtbl"),
        F.col("bucket").alias("qbucket"),
    )
    # equi-join on (tbl, bucket): the query side scales with the corpus
    # (N/QUERY_MOD rows x L tables), so it must not be pinned to a
    # driver broadcast — AQE converts to broadcast-hash at runtime
    # whenever the built side is actually small (it is at every fixture
    # scale), and falls back to a shuffled join at 100 TB
    pairs = bkt.join(
        q,
        (F.col("tbl") == F.col("qtbl"))
        & (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    cos = _dot(F.col("qe"), F.col("e")) / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    scored = pairs.select(
        "query_id", "vec_id", cos.alias("cos6")
    ).distinct()
    w = W.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cos6"), 6)), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "vec_id", F.round("cos6", 4).alias("cos"), "rank"
        )
    )


# --- IVF coarse-quantizer ANN ----------------------------------------------

CELL_MOD = 37  # base centroid seed stride (corpora under 10k vectors)
N_PROBE = 3    # cells probed per query

# Adaptive stride stairs: seed-stride centroid selection must keep
# K = n/stride in a bounded, broadcastable band at EVERY corpus size.
# A fixed stride makes K grow linearly with N, which turns the O(N*K)
# cell-assignment compare quadratic — caught by the r07 100x stress
# replica (200k vectors -> 5405 centroids -> 1.08e9 interpreted dot
# products; the run had to be killed).  The stairs approximate the
# standard nlist ~ sqrt(N) sizing (FAISS practice); each band's K stays
# in the low thousands: n=2e5 -> stride 1811 (K~110), n=1e8 -> stride
# 199999 (K~500); beyond ~1e10 vectors a trained coarse quantizer
# (embedding_kmeans_assign) should replace seed-stride selection.
# Fixture scales (20..2000 vectors) all fall in the base band, so
# results are unchanged at every oracle-gated scale factor.
_IVF_STAIRS: tuple[tuple[int, int], ...] = (
    (10**8, 199999),
    (10**7, 63029),
    (10**6, 20011),
    (10**5, 1811),
    (10**4, 389),
)


def ivf_cell_mod(n: int) -> int:
    """Centroid seed stride for an n-vector corpus (see _IVF_STAIRS)."""
    for lo, mod in _IVF_STAIRS:
        if n >= lo:
            return mod
    return CELL_MOD


# the identical stairs as a DuckDB scalar subquery, so both engines
# derive the same stride from the same corpus count
_DUCK_CELL_MOD = (
    "(SELECT CASE "
    + " ".join(
        f"WHEN count(*) >= {lo} THEN {mod}" for lo, mod in _IVF_STAIRS
    )
    + f" ELSE {CELL_MOD} END FROM embeddings)"
)


def _ivf_cent(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """Deterministic seed-stride centroid set with scale-adaptive K.

    The corpus count is a single-scalar driver action at plan-build
    time (same cost class as the eager snapshots); metadata-only over
    the parquet footer."""
    n = load_table(spark, sf_dir, "embeddings").count()
    return emb.filter(F.col("vec_id") % ivf_cell_mod(n) == 1).select(
        F.col("vec_id").alias("cent_id"), F.col("e").alias("ce")
    )


def _cos_expr(u, v):
    return _dot(u, v) / (F.sqrt(_dot(u, u)) * F.sqrt(_dot(v, v)))


def _duck_cos(a: str, b: str) -> str:
    return (
        f"list_inner_product({a}, {b}) / "
        f"(sqrt(list_inner_product({a}, {a})) * "
        f"sqrt(list_inner_product({b}, {b})))"
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, e AS ce FROM emb
             WHERE vec_id % {_DUCK_CELL_MOD} = 1),
    assigned AS (
        SELECT vec_id, e, cell FROM (
            SELECT v.vec_id, v.e, c.cent_id AS cell,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({_duck_cos('v.e', 'c.ce')}, 6) DESC,
                                c.cent_id
                   ) AS rn
            FROM emb v CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qe, cell FROM (
            SELECT q.vec_id AS query_id, q.e AS qe, c.cent_id AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_duck_cos('q.e', 'c.ce')}, 6) DESC,
                                c.cent_id
                   ) AS rn
            FROM emb q CROSS JOIN cent c
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rn <= {N_PROBE}
    )
    SELECT query_id, vec_id, cos, rank FROM (
        SELECT p.query_id, a.vec_id,
               round({_duck_cos('a.e', 'p.qe')}, 4) AS cos,
               CAST(row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round({_duck_cos('a.e', 'p.qe')}, 6) DESC,
                            a.vec_id
               ) AS BIGINT) AS rank
        FROM probes p JOIN assigned a USING (cell)
        WHERE a.vec_id <> p.query_id
    ) WHERE rank <= {TOP_K}
    """,
    doc="IVF (inverted-file) ANN — the coarse-quantizer scale path "
    "alongside sign-LSH: deterministic data-derived centroid seeds "
    "(vec_id % stride = 1 with the scale-adaptive _IVF_STAIRS stride, "
    "so K ~ sqrt(N) stays broadcastable at every corpus size), every "
    "corpus vector assigned to its nearest cell (O(N·K) broadcast "
    f"compare, K ≪ N), queries probe their {N_PROBE} nearest cells and "
    "re-rank exactly inside them.  At 100 TB the per-cell postings are "
    "the unit of partition pruning: a probe touches nprobe/K of the "
    "corpus instead of all of it.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    cent = _ivf_cent(spark, sf_dir, emb)
    # cell assignment: argmin over the (small, broadcast) centroid set —
    # per-vector window over K rows, shuffle carries (vec_id, cell) only
    cos_vc = _cos_expr(F.col("e"), F.col("ce"))
    w_assign = W.partitionBy("vec_id").orderBy(
        F.desc(F.round(F.col("ccos"), 6)), F.asc("cent_id")
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "e", "cent_id", cos_vc.alias("ccos"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", F.col("cent_id").alias("cell"))
    )
    probes = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .crossJoin(F.broadcast(cent))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            "cent_id",
            _cos_expr(F.col("e"), F.col("ce")).alias("ccos"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.desc(F.round(F.col("ccos"), 6)), F.asc("cent_id")
                )
            ),
        )
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "qe", F.col("cent_id").alias("cell"))
    )
    # a corpus vector lives in exactly one cell ⇒ (query, candidate)
    # pairs are already unique across the probed cells — no distinct
    scored = (
        # probes scale with the query count — no broadcast pin (r06
        # lesson: never pin a scaling relation to driver memory); the
        # shuffle_hash hint keeps the cell join sort-free (no SMJ sort
        # of the corpus side) while AQE remains free to build the hash
        # side locally when the probe set is small
        assigned.join(probes.hint("shuffle_hash"), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cos_expr(F.col("e"), F.col("qe")).alias("cos6"),
        )
    )
    w_rank = W.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cos6"), 6)), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "vec_id", F.round("cos6", 4).alias("cos"), "rank"
        )
    )


# --- vector scalar ops -----------------------------------------------------


@register(
    "vector_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))), 4)
               AS l2_norm,
           round(list_max(CAST(embedding AS DOUBLE[])), 4) + 0 AS max_val,
           round(list_min(CAST(embedding AS DOUBLE[])), 4) + 0 AS min_val,
           CAST(len(embedding) AS INTEGER) AS dim
    FROM embeddings
    """,
    doc="Vector scalar ops over array<float>: L2 norm (fold), min/max "
    "(array_min/array_max) — per-row, no shuffle, codegen'd.",
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return emb.select(
        "vec_id",
        "label",
        F.round(F.sqrt(_dot(F.col("e"), F.col("e"))), 4).alias("l2_norm"),
        (F.round(F.array_max("e"), 4) + F.lit(0.0)).alias("max_val"),
        (F.round(F.array_min("e"), 4) + F.lit(0.0)).alias("min_val"),
        F.size("e").alias("dim"),
    )


# --- vector aggregation: per-label centroids -------------------------------


@register(
    "label_centroids",
    oracle="""
    , expl AS (
        SELECT label,
               unnest(CAST(embedding AS DOUBLE[])) AS component,
               generate_subscripts(embedding, 1) - 1 AS dim
        FROM embeddings
    )
    SELECT label, CAST(dim AS INTEGER) AS dim,
           round(avg(component), 6) + 0 AS centroid_val,
           count(*) AS n_vectors
    FROM expl GROUP BY label, dim
    """,
    doc="Vector aggregation: per-label centroid via posexplode → "
    "groupBy(label, dim) — the long layout shuffles (label, dim) pairs "
    "with partial aggregation, never whole vectors; the k-means/IVF "
    "coarse-quantizer building block.",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    expl = emb.select(
        "label", F.posexplode("e").alias("dim", "component")
    )
    return expl.groupBy("label", "dim").agg(
        (F.round(F.avg("component"), 6) + F.lit(0.0)).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


# --- scalar quantization ---------------------------------------------------


@register(
    "embedding_quantize_int8",
    oracle="""
    , expl AS (
        SELECT vec_id,
               list_min(CAST(embedding AS DOUBLE[])) AS mn,
               list_max(CAST(embedding AS DOUBLE[])) AS mx,
               generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings
    )
    SELECT vec_id, CAST(dim AS INTEGER) AS dim,
           CASE WHEN mx = mn THEN 0
                ELSE CAST(floor(((x - mn) / (mx - mn)) * 255 + 0.5)
                          AS INTEGER)
           END AS q
    FROM expl
    """,
    doc="Per-vector int8 scalar quantization (min/max affine, the "
    "vector-DB storage-compression building block): codes computed as "
    "floor(t*255 + 0.5) — explicit half-up in integer-safe floor "
    "arithmetic, since round() half-mode differs across engines.  "
    "Long-format integer output makes cross-engine parity exact; "
    "per-row map work, no shuffle.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    expl = emb.select(
        "vec_id",
        F.array_min("e").alias("mn"),
        F.array_max("e").alias("mx"),
        F.posexplode("e").alias("dim", "x"),
    )
    q = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.floor(
            ((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")))
            * 255
            + 0.5
        ).cast("int")
    )
    return expl.select("vec_id", "dim", q.alias("q"))


# --- binary sign-code ANN (Hamming top-k) ----------------------------------


def _sign_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, code_lo, code_hi): the 64-dim embedding packed into two
    32-bit sign bitmaps (bit d set ⟺ e[d] > 0).  8 bytes per vector vs
    256 for the raw floats — the 32× compression that lets a 100 TB
    corpus's codebook fit in memory for coarse candidate generation."""
    pos = _emb(spark, sf_dir).select(
        "vec_id", F.posexplode("e").alias("dim", "val")
    )
    half = F.expr(
        "CASE WHEN val > 0 THEN shiftleft(CAST(1 AS BIGINT), "
        "CAST(dim % 32 AS INT)) ELSE CAST(0 AS BIGINT) END"
    )
    return pos.groupBy("vec_id").agg(
        F.sum(F.when(F.col("dim") < 32, half).otherwise(0)).alias("code_lo"),
        F.sum(F.when(F.col("dim") >= 32, half).otherwise(0)).alias("code_hi"),
    )


_DUCK_CODES = """
, pos AS (
    SELECT vec_id, i - 1 AS dim, embedding[i] AS val
    FROM embeddings,
         LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
),
codes AS (
    SELECT vec_id,
           CAST(sum(CASE WHEN val > 0 AND dim < 32
                         THEN (CAST(1 AS BIGINT) << (dim % 32))
                         ELSE 0 END) AS BIGINT) AS code_lo,
           CAST(sum(CASE WHEN val > 0 AND dim >= 32
                         THEN (CAST(1 AS BIGINT) << (dim % 32))
                         ELSE 0 END) AS BIGINT) AS code_hi
    FROM pos GROUP BY vec_id
)
"""


@register(
    "ann_hamming_topk",
    oracle=_DUCK_CODES
    + f"""
    SELECT query_id, vec_id, hamming, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               CAST(bit_count(xor(q.code_lo, c.code_lo))
                    + bit_count(xor(q.code_hi, c.code_hi))
                    AS BIGINT) AS hamming,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY bit_count(xor(q.code_lo, c.code_lo))
                          + bit_count(xor(q.code_hi, c.code_hi)),
                            c.vec_id
               ) AS BIGINT) AS rank
        FROM codes q JOIN codes c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
    ) WHERE rank <= {TOP_K}
    """,
    doc="Binary-code ANN: embeddings packed to 64 sign bits (two 32-bit "
    "halves — see _sign_codes), Hamming distance = popcount(xor), top-k "
    "per query with total-order tie-break.  The coarse-quantization scale "
    "path: the scan streams 8-byte codes through codegen'd bit_count/xor "
    "(no Python, no floats, no shuffle before the tiny per-query top-k), "
    "and candidates it surfaces are re-ranked by exact cosine "
    "(ann_cosine_topk's kernel) in a real deployment.  Integer-only "
    "output — hash parity needs no rounding rules.",
)
def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = _sign_codes(spark, sf_dir)
    q = codes.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("code_lo").alias("q_lo"),
        F.col("code_hi").alias("q_hi"),
    )
    joined = codes.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    dist = F.bit_count(F.expr("q_lo ^ code_lo")) + F.bit_count(
        F.expr("q_hi ^ code_hi")
    )
    w = W.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    return (
        joined.select(
            "query_id", "vec_id", dist.cast("long").alias("hamming")
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


# --- index-quality evaluation: LSH recall vs exact -------------------------


@register(
    "ann_recall_eval",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
                   ) AS BIGINT) AS rank
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rank <= {TOP_K}
    ),
    bkt AS ({_DUCK_BKT_UNION}),
    lsh AS (
        SELECT query_id, vec_id FROM (
            SELECT cand.query_id, cand.vec_id,
                   CAST(row_number() OVER (
                       PARTITION BY cand.query_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, cand.vec_id
                   ) AS BIGINT) AS rank
            FROM (
                SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
                FROM bkt q JOIN bkt c
                  ON q.tbl = c.tbl AND q.bucket = c.bucket
                 AND q.vec_id <> c.vec_id
                WHERE q.vec_id % {QUERY_MOD} = 0
            ) cand
            JOIN emb q ON q.vec_id = cand.query_id
            JOIN emb c ON c.vec_id = cand.vec_id
        ) WHERE rank <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(count(l.vec_id) AS BIGINT) AS n_hits,
           round(count(l.vec_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
    FROM exact e
    LEFT JOIN lsh l
      ON l.query_id = e.query_id AND l.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
    doc=f"Index-quality evaluation: per-query recall@{TOP_K} of the "
    "sign-LSH index against the exact brute-force ranking — the "
    "dashboard every ANN deployment watches before trusting the index "
    "at scale.  Pure composition of the two ANN plans (exact side "
    "broadcasts the query set; LSH side joins buckets) followed by a "
    "left join on the (query, neighbor) pair and a per-query rollup; "
    "the recall denominator is the fixed k, so the ratio divides "
    "identical small integers on both engines.",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    lsh = ann_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("l_query_id"), F.col("vec_id").alias("l_vec_id")
    )
    hits = exact.join(
        lsh,
        (F.col("query_id") == F.col("l_query_id"))
        & (F.col("vec_id") == F.col("l_vec_id")),
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count("l_vec_id").cast("long").alias("n_hits"),
        F.round(F.count("l_vec_id") * F.lit(1.0) / TOP_K, 4).alias(
            "recall_at_k"
        ),
    )


# --- quantized k-means (cross-engine-exact Lloyd iterations) ---------------

KM_K = 8          # base cluster count (fixture scales)
KM_ITERS = 2      # unrolled Lloyd iterations
_Q_VAL = 1_000_000       # per-dim value quantization (1e-6 units)
_Q_DIST = 1_000_000_000  # per-dim squared-distance quantization

# Scale-adaptive cluster count (the _IVF_STAIRS recipe, guide §2):
# the SemDeDup contract is that the CELL COUNT GROWS WITH THE CORPUS
# (Abbas et al. 2023 use ~11k clusters at LAION scale) — a fixed K
# makes every cell-confined pair comparison O(N²/K) i.e. quadratic,
# and the Lloyd distance join O(N·K) stays linear only because K is
# frozen.  K ~ sqrt(N) balances both at ~N^1.5.  Fixture scales
# (20..2000 vectors) all fall in the base band, so results are
# unchanged at every oracle-gated scale factor; both engines derive
# the SAME K from the same corpus count (Python stairs here, the
# identical CASE as a DuckDB scalar subquery below).  Beyond ~1e8
# vectors K caps at 8192 (centroid broadcast stays K·dim = 512k rows,
# a few MB); past that a trained hierarchical quantizer should
# replace flat k-means, same caveat as _IVF_STAIRS.
_KM_STAIRS: tuple[tuple[int, int], ...] = (
    (10**8, 8192),
    (10**7, 2048),
    (10**6, 512),
    (10**5, 128),
    (10**4, 32),
)


def km_clusters(n: int) -> int:
    """Cluster count for an n-vector corpus (see _KM_STAIRS)."""
    for lo, k in _KM_STAIRS:
        if n >= lo:
            return k
    return KM_K


# the identical stairs as a DuckDB scalar subquery, so both engines
# derive the same cluster count from the same corpus count
_DUCK_KM_K = (
    "(SELECT CASE "
    + " ".join(f"WHEN count(*) >= {lo} THEN {k}" for lo, k in _KM_STAIRS)
    + f" ELSE {KM_K} END FROM embeddings)"
)


def _km_duck_iter(prev_assign: str, idx: int) -> str:
    """One Lloyd iteration as DuckDB CTE text (centroids from integer-
    quantized sums, assignment by integer-quantized distances)."""
    return f"""
    c{idx} AS (
        SELECT cluster, dim,
               CAST(sum(CAST(floor(val * {_Q_VAL} + 0.5) AS BIGINT))
                    AS DOUBLE)
               / CAST(count(*) AS DOUBLE) / {_Q_VAL} AS c
        FROM e JOIN {prev_assign} USING (vec_id)
        GROUP BY cluster, dim
    ),
    d{idx} AS (
        SELECT e.vec_id, c{idx}.cluster,
               sum(CAST(floor((e.val - c{idx}.c) * (e.val - c{idx}.c)
                              * {_Q_DIST}) AS BIGINT)) AS dist_fp
        FROM e JOIN c{idx} ON e.dim = c{idx}.dim
        GROUP BY e.vec_id, c{idx}.cluster
    ),
    a{idx} AS (
        SELECT vec_id, cluster, dist_fp FROM (
            SELECT vec_id, cluster, dist_fp,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist_fp, cluster) AS rn
            FROM d{idx}
        ) WHERE rn = 1
    )"""


@register(
    "embedding_kmeans_assign",
    oracle=f"""
    , e AS (
        SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
               CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    a0 AS (SELECT vec_id, CAST(vec_id % {_DUCK_KM_K} AS BIGINT) AS cluster
           FROM embeddings),
    {_km_duck_iter("a0", 1)},
    {_km_duck_iter("a1", 2)}
    SELECT a2.vec_id, a2.cluster, CAST(a2.dist_fp AS BIGINT) AS dist_fp,
           a1.cluster AS cluster_prev,
           CAST(CASE WHEN a1.cluster = a2.cluster THEN 0 ELSE 1 END
                AS INTEGER) AS moved
    FROM a2 JOIN a1 ON a1.vec_id = a2.vec_id
    """,
    doc=f"K-means cluster assignment (scale-adaptive cluster count, "
    f"{KM_K} at fixture scales growing ~sqrt(N) via _KM_STAIRS — the "
    f"same count-derived stairs on both engines, {KM_ITERS} unrolled "
    "Lloyd iterations) with bit-identical results on every engine and "
    "partitioning — the property distributed clustering normally "
    "sacrifices.  Floating-point summation order is the enemy twice "
    "(centroid means, distance sums); both are made order-free by "
    "per-element integer quantization: centroids divide exact BIGINT "
    "sums of floor(val·1e6+0.5), distances sum exact BIGINT "
    "floor(Δ²·1e9), and argmin tie-breaks on cluster id.  Spark plan "
    "per iteration: posexplode long format, centroid aggregate "
    "(K·dim = 512 rows) broadcast back into the scan stage, one "
    "(vec, cluster) partial-agg shuffle, and a WindowGroupLimit argmin "
    "— iterations chain without any driver collect, and the broadcast "
    "keeps the fact side shuffling only (vec_id)-keyed rows.  "
    "Deterministic data-independent init (vec_id % K), same contract "
    "as the IVF coarse quantizer (ann_ivf_topk).  'moved' exposes "
    "assignment churn between the final two iterations — the "
    "convergence signal a pipeline monitors.",
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fval")
    ).select("vec_id", "dim", F.col("fval").cast("double").alias("val"))
    assign = emb.select(
        "vec_id",
        (F.col("vec_id") % km_clusters(n_vec)).cast("long").alias("cluster"),
    )
    prev = None
    for _ in range(KM_ITERS):
        cent = (
            e.join(assign, "vec_id")
            .groupBy("cluster", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("val") * _Q_VAL + F.lit(0.5)).cast("long")
                ).alias("sq"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cluster",
                "dim",
                (
                    F.col("sq").cast("double")
                    / F.col("n").cast("double")
                    / F.lit(_Q_VAL)
                ).alias("c"),
            )
        )
        diff = F.col("val") - F.col("c")
        d = (
            e.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cluster")
            .agg(
                F.sum(
                    F.floor(diff * diff * _Q_DIST).cast("long")
                ).alias("dist_fp")
            )
        )
        w = W.partitionBy("vec_id").orderBy("dist_fp", "cluster")
        prev = assign
        assign = (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster", "dist_fp")
        )
    return (
        assign.alias("a2")
        .join(
            prev.select(
                F.col("vec_id").alias("p_vec_id"),
                F.col("cluster").alias("cluster_prev"),
            ),
            F.col("vec_id") == F.col("p_vec_id"),
        )
        .select(
            "vec_id",
            "cluster",
            "dist_fp",
            "cluster_prev",
            F.when(F.col("cluster") == F.col("cluster_prev"), 0)
            .otherwise(1)
            .cast("int")
            .alias("moved"),
        )
    )


# --- semantic dedup within k-means cells (SemDeDup-shaped) -----------------

# cos(a,b) >= 0.8 tested exactly: dot >= 0 AND 25*dot^2 >= 16*|a|^2*|b|^2
# over the floor-quantized integer forms (DECIMAL(38,0) — no float sums).
SEM_TAU_NUM2 = 16  # tau^2 = 16/25  (tau = 0.8)
SEM_TAU_DEN2 = 25


def _arrow_pair_dot_fp():
    """Quantized pair dot floor(u*v*Q) summed in int64, as an
    Arrow-vectorized pandas_udf (guide §4.2).  The zip_with/aggregate
    fold is INTERPRETED per element per pair — the r08 A/B (quiet
    window, tight spreads) measured the numpy batch dot at 1.75x the
    fold (4.46 s -> 2.55 s at sf0.1 for semantic_dedup_keep).
    Bit-identical to the fold and the oracle's long-format sum:
    (u*v)*Q in float64 is the same left-associated IEEE product,
    floor() then exact int64 (per-element |u*v*Q| <= 1e9, 64-dim dot
    sums < 2^36 << 2^53)."""

    @F.pandas_udf("long")
    def _pair_dot_fp(ea, eb):
        import numpy as np
        import pandas as pd

        if len(ea) == 0:
            return pd.Series([], dtype="int64")
        a = np.stack(ea.to_numpy())
        b = np.stack(eb.to_numpy())
        return pd.Series(
            np.floor(a * b * float(_Q_DIST)).astype(np.int64).sum(axis=1)
        )

    return _pair_dot_fp


@register(
    "semantic_dedup_keep",
    oracle=f"""
    , e AS (
        SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
               CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    a0 AS (SELECT vec_id, CAST(vec_id % {_DUCK_KM_K} AS BIGINT) AS cluster
           FROM embeddings),
    {_km_duck_iter("a0", 1)},
    {_km_duck_iter("a1", 2)},
    q AS (
        SELECT e.vec_id, a2.cluster, e.dim, e.val,
               CAST(floor(e.val * e.val * {_Q_DIST}) AS BIGINT) AS sq_fp
        FROM e JOIN a2 ON e.vec_id = a2.vec_id
    ),
    norms AS (
        SELECT vec_id, cluster, sum(sq_fp) AS n2_fp
        FROM q GROUP BY vec_id, cluster
    ),
    dots AS (
        SELECT x.vec_id AS doc_a, y.vec_id AS doc_b, x.cluster,
               sum(CAST(floor(x.val * y.val * {_Q_DIST}) AS BIGINT))
                   AS dot_fp
        FROM q x JOIN q y
          ON x.cluster = y.cluster AND x.dim = y.dim
         AND x.vec_id < y.vec_id
        GROUP BY x.vec_id, y.vec_id, x.cluster
    ),
    dups AS (
        SELECT d.doc_a, d.doc_b, d.cluster
        FROM dots d
        JOIN norms na ON na.vec_id = d.doc_a
        JOIN norms nb ON nb.vec_id = d.doc_b
        WHERE d.dot_fp >= 0
          AND CAST({SEM_TAU_DEN2} AS DECIMAL(38,0))
              * CAST(d.dot_fp AS DECIMAL(38,0))
              * CAST(d.dot_fp AS DECIMAL(38,0))
              >= CAST({SEM_TAU_NUM2} AS DECIMAL(38,0))
                 * CAST(na.n2_fp AS DECIMAL(38,0))
                 * CAST(nb.n2_fp AS DECIMAL(38,0))
    )
    SELECT n.vec_id, n.cluster,
           CAST(CASE WHEN d.doc_b IS NULL THEN 1 ELSE 0 END AS INTEGER)
               AS keep
    FROM norms n
    LEFT JOIN (SELECT DISTINCT doc_b FROM dups) d ON d.doc_b = n.vec_id
    """,
    doc="Semantic dedup (SemDeDup shape, Abbas et al. 2023 — public "
    "recipe): cluster embeddings with the quantized k-means, then drop "
    "every vector cosine-similar (τ = 0.8) to a lower-id vector in the "
    "SAME cluster — pairwise comparison is confined to cells, never the "
    "full corpus (the O(n²) killer), and the cell count grows with the "
    "corpus like the IVF quantizer's.  The cosine test itself is exact "
    "integer arithmetic: cos ≥ τ rewritten as 25·dot² ≥ 16·|a|²·|b|² "
    "over floor-quantized BIGINT sums in DECIMAL(38,0) — no float "
    "summation anywhere, so the keep set is bit-stable across engines "
    "and partitionings.  Spark: array-form pair join confined to "
    "cells, per-pair dot via an Arrow-vectorized numpy batch (same "
    "IEEE ops as the oracle's long-format sum); keep = anti-evidence "
    "left join against the dup-pair set.",
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpoint the cluster assignment: the kmeans chain is expensive
    # and would otherwise re-derive per consumer branch
    assign = (
        embedding_kmeans_assign(spark, sf_dir)
        .select("vec_id", "cluster")
        .transform(snapshot, eager=False)
    )
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    # array form: one row per vector.  The pair join then shuffles
    # cluster-size^2 ROWS instead of cluster-size^2 x dim (the previous
    # long-format join moved 16M rows at sf0.1; this moves 250k —
    # measured 10.3 s -> 5.8 s end to end).  Per-element floor(u*v*Q)
    # BEFORE the sum keeps the exact integer contract (identical to the
    # oracle's long-format sum); the self-norm stays a one-per-vector
    # fold, the pair-grain dot is Arrow-vectorized (see below).
    qfp = F.expr(
        f"aggregate(transform(e, v -> CAST(floor(v * v * {_Q_DIST}) "
        "AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    base = (
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .join(assign, "vec_id")
        .select("vec_id", "cluster", "e", qfp.alias("n2_fp"))
        .transform(snapshot, eager=False)
    )
    x = base.select(
        F.col("vec_id").alias("doc_a"),
        "cluster",
        F.col("e").alias("ea"),
        F.col("n2_fp").alias("na_fp"),
    )
    y = base.select(
        F.col("vec_id").alias("doc_b"),
        F.col("cluster").alias("yc"),
        F.col("e").alias("eb"),
        F.col("n2_fp").alias("nb_fp"),
    )

    # shuffle_hash: corpus-grain build side (CLAUDE.md static-broadcast
    # rule) — stats through the snapshot scan must never elect a
    # broadcast of the vector relation
    _pair_dot_fp = _arrow_pair_dot_fp()
    dec = "decimal(38,0)"
    dups = (
        x.join(
            y.hint("shuffle_hash"),
            (F.col("cluster") == F.col("yc"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_b",
            _pair_dot_fp("ea", "eb").alias("dot_fp"),
            "na_fp",
            "nb_fp",
        )
        .filter(
            (F.col("dot_fp") >= 0)
            & (
                F.lit(SEM_TAU_DEN2).cast(dec)
                * F.col("dot_fp").cast(dec)
                * F.col("dot_fp").cast(dec)
                >= F.lit(SEM_TAU_NUM2).cast(dec)
                * F.col("na_fp").cast(dec)
                * F.col("nb_fp").cast(dec)
            )
        )
        .select("doc_b")
        .distinct()
    )
    return (
        base.join(dups, base["vec_id"] == dups["doc_b"], "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("doc_b").isNull(), 1).otherwise(0)
            .cast("int")
            .alias("keep"),
        )
    )


# --- hard-negative mining for contrastive training -------------------------


@register(
    "hard_negative_mining",
    oracle=f"""
    , emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings)
    SELECT query_id, query_label, neg_id, neg_label, cos, rank FROM (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               c.vec_id AS neg_id, c.label AS neg_label,
               round({_DUCK_COS}, 4) AS cos,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
               ) AS BIGINT) AS rank
        FROM emb q JOIN emb c ON q.label <> c.label
        WHERE q.vec_id % {QUERY_MOD} = 0
    ) WHERE rank <= 3
    """,
    doc="Hard-negative mining — the contrastive-training data prep step: "
    "for each anchor (the query subset), the 3 most cosine-similar "
    "vectors carrying a DIFFERENT label.  Same broadcast-anchors + "
    "JVM-side fold + per-anchor window shape as ann_cosine_topk, with "
    "the label-mismatch predicate evaluated inside the join so "
    "same-label pairs never reach the ranking.  At corpus scale the "
    "anchor set stays the broadcast side and the corpus streams "
    "through map tasks — mining cost is one corpus scan per anchor "
    "batch, the standard mini-batch mining loop.  Total-order "
    "tie-break (rounded cosine desc, vec_id asc) keeps the ranking "
    "engine-invariant.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("e").alias("qe"),
    )
    joined = emb.crossJoin(F.broadcast(q)).filter(
        F.col("label") != F.col("query_label")
    )
    cos = _dot(F.col("qe"), F.col("e")) / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cos6"), 6)), F.asc("neg_id")
    )
    return (
        joined.select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            cos.alias("cos6"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "query_label",
            "neg_id",
            "neg_label",
            F.round("cos6", 4).alias("cos"),
            "rank",
        )
    )


# --- IVF index balance observability ----------------------------------------


@register(
    "ivf_cell_stats",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, e AS ce FROM emb
             WHERE vec_id % {_DUCK_CELL_MOD} = 1),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, c.cent_id AS cell,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({_duck_cos('v.e', 'c.ce')}, 6) DESC,
                                c.cent_id
                   ) AS rn
            FROM emb v CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    cells AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS n_postings
        FROM assigned GROUP BY cell
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(n_postings) AS BIGINT) AS n_vectors,
           CAST(min(n_postings) AS BIGINT) AS min_postings,
           CAST(max(n_postings) AS BIGINT) AS max_postings,
           CAST(sum(n_postings) * 100 // count(*) AS BIGINT)
               AS avg_postings_x100,
           CAST(max(n_postings) * count(*) * 100 // sum(n_postings)
                AS BIGINT) AS max_over_avg_x100
    FROM cells
    """,
    doc="IVF index balance — the vector-store ops readout that decides "
    "whether the coarse quantizer needs retraining: postings per cell "
    "(min/max/avg) and the max-over-avg skew ratio in exact fixed "
    "point.  A skew ratio far above 100 means one cell absorbs the "
    "probes (the LSH-bucket analogue of a hot key) and query latency "
    "degrades to brute force within it; at 100 TB this statistic is "
    "what triggers re-clustering, exactly like shuffle-key skew stats "
    "(topic_key_skew_stats) trigger salting.  Same deterministic "
    "assignment as ann_ivf_topk.",
)
def ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    cent = _ivf_cent(spark, sf_dir, emb)
    w_assign = W.partitionBy("vec_id").orderBy(
        F.desc(F.round(F.col("ccos"), 6)), F.asc("cent_id")
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cent_id",
            _cos_expr(F.col("e"), F.col("ce")).alias("ccos"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"))
    )
    cells = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_postings")
    )
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n_postings").cast("long").alias("n_vectors"),
        F.min("n_postings").cast("long").alias("min_postings"),
        F.max("n_postings").cast("long").alias("max_postings"),
        F.expr("sum(n_postings) * 100 DIV count(*)").alias(
            "avg_postings_x100"
        ),
        F.expr(
            "max(n_postings) * count(*) * 100 DIV sum(n_postings)"
        ).alias("max_over_avg_x100"),
    )


# --- Gram matrix (PCA / whitening sufficient statistic) --------------------


@register(
    "embedding_gram_matrix",
    oracle="""
    , ev AS (
        SELECT vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS v,
               generate_subscripts(embedding, 1) - 1 AS i
        FROM embeddings
    )
    SELECT a.i AS i, b.i AS j,
           CAST(sum(CAST(floor(a.v * b.v * 1000000) AS BIGINT))
                AS BIGINT) AS gram_q6
    FROM ev a JOIN ev b ON a.vec_id = b.vec_id
    GROUP BY 1, 2
    """,
    doc="Gram matrix X^T X over the embedding corpus — the sufficient "
    "statistic PCA / whitening / ZCA runs on (d x d stays constant "
    "while N scales to 100 TB).  Each partition accumulates its own "
    "d x d integer block in one Arrow-batched numpy pass (einsum over "
    "row chunks, products floor-quantized to 1e-6 BEFORE summation so "
    "the accumulator is exact int64 and summation order is "
    "irrelevant), then only the tiny per-partition blocks shuffle "
    "(4096 rows each) into the final addition.  The oracle's "
    "double-unnest self-join is the semantics; the plan never "
    "materializes the N x d^2 product stream.  Products are computed "
    "in float64 on both engines (float32 inputs widen exactly).",
    tags=("operator", "pandas"),
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = _emb(spark, sf_dir)

    def part_gram(batches):
        acc = np.zeros((DIM, DIM), dtype=np.int64)
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            # chunk the n x d x d tensor to bound memory at ~17 MB
            for lo in range(0, len(X), 512):
                blk = X[lo : lo + 512]
                prods = np.einsum("ni,nj->nij", blk, blk)
                acc += np.floor(prods * 1e6).astype(np.int64).sum(axis=0)
            seen = True
        if seen:
            ii, jj = np.indices((DIM, DIM))
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype(np.int64),
                    "j": jj.ravel().astype(np.int64),
                    "s": acc.ravel(),
                }
            )

    part = emb.select("e").mapInPandas(
        part_gram, "i long, j long, s long"
    )
    return part.groupBy("i", "j").agg(
        F.sum("s").cast("long").alias("gram_q6")
    )


# --- product quantization (PQ) code assignment -----------------------------

PQ_SUBS = 8   # subspaces (64 dims → 8 sub-vectors of 8)
PQ_K = 16     # codebook entries per subspace → 8 × 4-bit codes/vector

# Shared oracle CTE chain: quantized long layout → codebook → per-
# (vec, sub, cluster) distances → argmin codes.  Used by pq_code_assign
# and the ADC scorer below.
_DUCK_PQ = f"""
    , pe AS (
        SELECT vec_id,
               CAST((i - 1) // 8 AS BIGINT) AS sub,
               CAST(i - 1 AS BIGINT) AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * {_Q_VAL} + 0.5)
                    AS BIGINT) AS vq
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    cb AS (
        SELECT sub, dim, CAST(vec_id % {PQ_K} AS BIGINT) AS cluster,
               CAST(sum(vq) // count(*) AS BIGINT) AS cq
        FROM pe GROUP BY 1, 2, 3
    ),
    d AS (
        SELECT pe.vec_id, pe.sub, cb.cluster,
               sum((pe.vq - cb.cq) * (pe.vq - cb.cq)) AS dist_fp
        FROM pe JOIN cb ON cb.sub = pe.sub AND cb.dim = pe.dim
        GROUP BY 1, 2, 3
    ),
    md AS (SELECT vec_id, sub, min(dist_fp) AS mind
           FROM d GROUP BY 1, 2),
    codes AS (
        SELECT d.vec_id, d.sub, CAST(min(d.cluster) AS BIGINT) AS code,
               CAST(md.mind AS BIGINT) AS dist_fp
        FROM d JOIN md ON md.vec_id = d.vec_id AND md.sub = d.sub
                      AND d.dist_fp = md.mind
        GROUP BY d.vec_id, d.sub, md.mind
    )
"""


def _pq_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized long layout (vec_id, sub, dim, vq, seed_cluster)."""
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("d", "fval")
    ).select(
        "vec_id",
        F.expr("CAST(d DIV 8 AS BIGINT)").alias("sub"),
        F.col("d").cast("long").alias("dim"),
        F.expr(
            f"CAST(floor(CAST(fval AS DOUBLE) * {_Q_VAL} + 0.5) AS BIGINT)"
        ).alias("vq"),
        F.expr(f"CAST(vec_id % {PQ_K} AS BIGINT)").alias("seed_cluster"),
    )


def _pq_codebook(pe: DataFrame) -> DataFrame:
    """(sub, dim, cluster, cq) — 1024 rows, exact-integer means."""
    return pe.groupBy(
        "sub", "dim", F.col("seed_cluster").alias("cluster")
    ).agg(F.expr("CAST(sum(vq) DIV count(1) AS BIGINT)").alias("cq"))


@register(
    "pq_code_assign",
    oracle=_DUCK_PQ
    + """
    SELECT vec_id, sub, code, dist_fp FROM codes
    """,
    doc=f"Product-quantization code assignment ({PQ_SUBS} subspaces x "
    f"{PQ_K} centroids → 4-bit codes): the vector-compression stage of "
    "a Jégou-style PQ/IVFADC index, shrinking 64 float32 dims to 8 "
    "codes for in-RAM candidate scoring at corpus scale.  Codebooks "
    "are data-derived with the kmeans/IVF determinism contract "
    "(vec_id % K seeding, exact-integer quantized means via floor "
    "division, distances as exact BIGINT sums of squared 1e-6 units, "
    "argmin tie-broken on cluster id via min(struct)) so codes are "
    "bit-identical on every engine and partitioning.  Plan: one "
    "posexplode long-format pass, a 1024-row codebook aggregate "
    "broadcast back into the scan stage, distances partial-aggregate "
    "on (vec, sub) map-side — the fact table shuffles once.",
    tags=("operator",),
)
def pq_code_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    pe = _pq_long(spark, sf_dir)
    cb = _pq_codebook(pe)
    d = (
        pe.join(
            F.broadcast(cb.withColumnRenamed("sub", "c_sub")
                        .withColumnRenamed("dim", "c_dim")),
            (F.col("c_sub") == F.col("sub")) & (F.col("c_dim") == F.col("dim")),
        )
        .groupBy("vec_id", "sub", "cluster")
        .agg(
            F.sum(
                (F.col("vq") - F.col("cq")) * (F.col("vq") - F.col("cq"))
            ).alias("dist_fp")
        )
    )
    best = d.groupBy("vec_id", "sub").agg(
        F.min(F.struct("dist_fp", "cluster")).alias("m")
    )
    return best.select(
        "vec_id",
        "sub",
        F.col("m.cluster").cast("long").alias("code"),
        F.col("m.dist_fp").cast("long").alias("dist_fp"),
    )


# --- PQ asymmetric-distance (ADC) top-k ------------------------------------


@register(
    "pq_adc_topk",
    oracle=_DUCK_PQ
    + f"""
    , lut AS (
        SELECT q.vec_id AS query_id, cb.sub, cb.cluster,
               sum((q.vq - cb.cq) * (q.vq - cb.cq)) AS ld
        FROM pe q JOIN cb ON cb.sub = q.sub AND cb.dim = q.dim
        WHERE q.vec_id % {QUERY_MOD} = 0
        GROUP BY 1, 2, 3
    ),
    ad AS (
        SELECT l.query_id, c.vec_id, sum(l.ld) AS adist_fp
        FROM codes c JOIN lut l ON l.sub = c.sub AND l.cluster = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, CAST(adist_fp AS BIGINT) AS adist_fp, rank
    FROM (
        SELECT query_id, vec_id, adist_fp,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY adist_fp, vec_id)
                    AS BIGINT) AS rank
        FROM ad
    ) WHERE rank <= {TOP_K}
    """,
    doc="PQ asymmetric-distance (ADC) top-k — the serving half of the "
    "PQ index: each query precomputes an exact lookup table of "
    "distances from its TRUE sub-vectors to every codebook centroid "
    f"({PQ_SUBS}x{PQ_K} BIGINT cells/query), and corpus distances are "
    "then pure LUT-sums over the 8 stored codes — no vector "
    "arithmetic per corpus row, which is why PQ serves billion-vector "
    "indexes from RAM.  The LUT broadcasts (queries are few), codes "
    "partial-aggregate on (query, vec), rank is a per-query window "
    "with the usual (distance, vec_id) total order.  All arithmetic "
    "inherits the PQ integer contract, so the ranking is bit-exact "
    "cross-engine.",
    tags=("operator",),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pe = _pq_long(spark, sf_dir)
    cb = _pq_codebook(pe)
    lut = (
        pe.filter(F.col("vec_id") % QUERY_MOD == 0)
        .join(
            F.broadcast(
                cb.withColumnRenamed("sub", "c_sub").withColumnRenamed(
                    "dim", "c_dim"
                )
            ),
            (F.col("c_sub") == F.col("sub"))
            & (F.col("c_dim") == F.col("dim")),
        )
        .groupBy(
            F.col("vec_id").alias("query_id"), "sub", "cluster"
        )
        .agg(
            F.sum(
                (F.col("vq") - F.col("cq")) * (F.col("vq") - F.col("cq"))
            ).alias("ld")
        )
    )
    codes = pq_code_assign(spark, sf_dir).select("vec_id", "sub", "code")
    ad = (
        codes.join(
            F.broadcast(
                lut.withColumnRenamed("sub", "l_sub")
            ),
            (F.col("l_sub") == F.col("sub"))
            & (F.col("cluster") == F.col("code"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("ld").cast("long").alias("adist_fp"))
    )
    w = W.partitionBy("query_id").orderBy("adist_fp", "vec_id")
    return (
        ad.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "adist_fp", "rank")
    )


# --- PQ index quality: recall@k vs exact -----------------------------------


@register(
    "pq_recall_eval",
    oracle=_DUCK_PQ
    + f"""
    , lut AS (
        SELECT q.vec_id AS query_id, cb.sub, cb.cluster,
               sum((q.vq - cb.cq) * (q.vq - cb.cq)) AS ld
        FROM pe q JOIN cb ON cb.sub = q.sub AND cb.dim = q.dim
        WHERE q.vec_id % {QUERY_MOD} = 0
        GROUP BY 1, 2, 3
    ),
    ad AS (
        SELECT l.query_id, c.vec_id, sum(l.ld) AS adist_fp
        FROM codes c JOIN lut l ON l.sub = c.sub AND l.cluster = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY 1, 2
    ),
    pq AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY adist_fp, vec_id)
                        AS BIGINT) AS rank
            FROM ad
        ) WHERE rank <= {TOP_K}
    ),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
                   ) AS BIGINT) AS rank
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rank <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(count(p.vec_id) AS BIGINT) AS n_hits,
           round(count(p.vec_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
    FROM exact e
    LEFT JOIN pq p
      ON p.query_id = e.query_id AND p.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
    doc=f"PQ index quality: per-query recall@{TOP_K} of the "
    "asymmetric-distance (4-bit code) ranking against the exact "
    "brute-force cosine ranking — the compression-loss dashboard a "
    "PQ deployment watches when tuning subspaces/centroids (the "
    "sibling of ann_recall_eval for the LSH index).  Composes the "
    "two existing plans and rolls up hits per query; the denominator "
    "is the fixed k, so the ratio divides identical small integers.  "
    "NOTE: ADC ranks by L2 on quantized codes while the exact side "
    "ranks cosine — recall reflects BOTH quantization loss and the "
    "metric gap, which is the honest deployment number when the "
    "serving index stores only codes.",
)
def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    pq = pq_adc_topk(spark, sf_dir).select(
        F.col("query_id").alias("p_query"), F.col("vec_id").alias("p_vec")
    )
    return (
        exact.join(
            pq,
            (F.col("p_query") == F.col("query_id"))
            & (F.col("p_vec") == F.col("vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("p_vec").cast("long").alias("n_hits"),
            F.round(F.count("p_vec") * 1.0 / TOP_K, 4).alias("recall_at_k"),
        )
    )


# --- density clustering: DBSCAN core points --------------------------------

DB_MIN_PTS = 3  # neighbors (excluding self) required for a core point


@register(
    "density_core_points",
    oracle=f"""
    , e AS (
        SELECT vec_id, CAST(vec_id % {_DUCK_KM_K} AS BIGINT) AS cell,
               CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    n2 AS (
        SELECT vec_id, cell,
               list_sum(list_transform(e,
                   v -> CAST(floor(v * v * {_Q_DIST}) AS BIGINT))) AS n2_fp
        FROM e
    ),
    prs AS (
        SELECT x.vec_id AS doc_a, y.vec_id AS doc_b,
               list_sum(list_transform(range(1, {DIM} + 1),
                   i -> CAST(floor(x.e[i] * y.e[i] * {_Q_DIST})
                        AS BIGINT))) AS dot_fp
        FROM e x JOIN e y ON x.cell = y.cell AND x.vec_id < y.vec_id
    ),
    sim AS (
        SELECT p.doc_a, p.doc_b
        FROM prs p
        JOIN n2 na ON na.vec_id = p.doc_a
        JOIN n2 nb ON nb.vec_id = p.doc_b
        WHERE p.dot_fp >= 0
          AND CAST({SEM_TAU_DEN2} AS DECIMAL(38,0))
              * CAST(p.dot_fp AS DECIMAL(38,0))
              * CAST(p.dot_fp AS DECIMAL(38,0))
              >= CAST({SEM_TAU_NUM2} AS DECIMAL(38,0))
                 * CAST(na.n2_fp AS DECIMAL(38,0))
                 * CAST(nb.n2_fp AS DECIMAL(38,0))
    ),
    degs AS (
        SELECT vec_id, count(*) AS n_neighbors FROM (
            SELECT doc_a AS vec_id FROM sim
            UNION ALL SELECT doc_b FROM sim
        ) GROUP BY vec_id
    )
    SELECT n.vec_id, n.cell,
           CAST(coalesce(d.n_neighbors, 0) AS BIGINT) AS n_neighbors,
           CAST(CASE WHEN coalesce(d.n_neighbors, 0) >= {DB_MIN_PTS}
                THEN 1 ELSE 0 END AS INTEGER) AS is_core
    FROM n2 n LEFT JOIN degs d ON d.vec_id = n.vec_id
    """,
    doc=f"DBSCAN-style density readout: per vector, the number of "
    "ε-neighbors (cosine ≥ τ, the exact-integer SemDeDup test) within "
    f"its hash cell, and the core-point flag (≥ {DB_MIN_PTS} "
    "neighbors) — the density-clustering primitive (core/border/noise "
    "triage) that drives cluster seeding and outlier removal in "
    "embedding curation.  Cell confinement (deterministic vec_id % K "
    "cells, the IVF contract) keeps the pair comparison O(cell²) "
    "instead of O(n²); the pair join moves array rows once "
    "(the semantic_dedup_keep shape) and neighbor degrees fall out of "
    "one union-aggregate.  All-integer surface.",
)
def density_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus count: single metadata-only action (parquet footer), the
    # same cost class as the eager snapshots — see _KM_STAIRS
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    qfp = F.expr(
        f"aggregate(transform(e, v -> CAST(floor(v * v * {_Q_DIST}) "
        "AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    base = emb.select(
        "vec_id",
        (F.col("vec_id") % km_clusters(n_vec)).cast("long").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    ).select("vec_id", "cell", "e", qfp.alias("n2_fp")).transform(snapshot, 
        eager=False
    )
    x = base.select(
        F.col("vec_id").alias("doc_a"),
        "cell",
        F.col("e").alias("ea"),
        F.col("n2_fp").alias("na_fp"),
    )
    y = base.select(
        F.col("vec_id").alias("doc_b"),
        F.col("cell").alias("yc"),
        F.col("e").alias("eb"),
        F.col("n2_fp").alias("nb_fp"),
    )
    # same Arrow-vectorized pair dot as semantic_dedup_keep (guide §4.2);
    # shuffle_hash: the build side is corpus-grain (CLAUDE.md static-
    # broadcast rule — the planner's estimate through the snapshot scan
    # picked a BroadcastHashJoin of the whole vector relation, a driver
    # collect at 100 TB that AQE cannot demote)
    _pair_dot_fp = _arrow_pair_dot_fp()
    dec = "decimal(38,0)"
    sim = (
        x.join(
            y.hint("shuffle_hash"),
            (F.col("cell") == F.col("yc"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            _pair_dot_fp("ea", "eb").alias("dot_fp"),
            "na_fp",
            "nb_fp",
        )
        .filter(
            (F.col("dot_fp") >= 0)
            & (
                F.lit(SEM_TAU_DEN2).cast(dec)
                * F.col("dot_fp").cast(dec)
                * F.col("dot_fp").cast(dec)
                >= F.lit(SEM_TAU_NUM2).cast(dec)
                * F.col("na_fp").cast(dec)
                * F.col("nb_fp").cast(dec)
            )
        )
    )
    # one pass over sim: the union-all of (doc_a, doc_b) as separate
    # branches re-executed the WHOLE quadratic pair join per branch
    # (plans/r08/density_core_points_before.txt nodes 12/21 — the same
    # plan-branch recomputation class as blocking_quality_eval);
    # exploding both endpoints keeps it one chain
    degs = (
        sim.select(
            F.explode(F.array("doc_a", "doc_b")).alias("vec_id")
        )
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_neighbors"))
    )
    return base.join(degs, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"),
        F.when(F.coalesce("n_neighbors", F.lit(0)) >= DB_MIN_PTS, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_core"),
    )


# --- nDCG ranking quality of the LSH index ---------------------------------

# Integer DCG position weights floor(1e6 / log2(i+1)), precomputed in
# Python (LIBM/CONSTANTS rule: cross-engine log differs by ulps, so the
# weight table — not libm — is the definition on both engines).
_NDCG_W = [int(1_000_000 // math.log2(i + 1)) for i in range(1, TOP_K + 1)]
# ideal DCG: graded relevance TOP_K..1 laid out in rank order — a constant
_NDCG_IDCG = sum((TOP_K - i) * w for i, w in enumerate(_NDCG_W))
_NDCG_W_SQL = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"


@register(
    "ann_ndcg_eval",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    exact AS (
        SELECT query_id, vec_id, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   CAST(row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
                   ) AS BIGINT) AS rank
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rank <= {TOP_K}
    ),
    bkt AS ({_DUCK_BKT_UNION}),
    lsh AS (
        SELECT query_id, vec_id, rank FROM (
            SELECT cand.query_id, cand.vec_id,
                   CAST(row_number() OVER (
                       PARTITION BY cand.query_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, cand.vec_id
                   ) AS BIGINT) AS rank
            FROM (
                SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
                FROM bkt q JOIN bkt c
                  ON q.tbl = c.tbl AND q.bucket = c.bucket
                 AND q.vec_id <> c.vec_id
                WHERE q.vec_id % {QUERY_MOD} = 0
            ) cand
            JOIN emb q ON q.vec_id = cand.query_id
            JOIN emb c ON c.vec_id = cand.vec_id
        ) WHERE rank <= {TOP_K}
    )
    SELECT l.query_id,
           CAST(count(e.vec_id) AS BIGINT) AS n_hits,
           CAST(sum(CASE WHEN e.rank IS NOT NULL
                         THEN ({TOP_K + 1} - e.rank)
                              * ({_NDCG_W_SQL})[l.rank]
                         ELSE 0 END) AS BIGINT) AS dcg_micro,
           CAST(sum(CASE WHEN e.rank IS NOT NULL
                         THEN ({TOP_K + 1} - e.rank)
                              * ({_NDCG_W_SQL})[l.rank]
                         ELSE 0 END) * 1000000 // {_NDCG_IDCG}
                AS BIGINT) AS ndcg_ppm
    FROM lsh l
    LEFT JOIN exact e
      ON e.query_id = l.query_id AND e.vec_id = l.vec_id
    GROUP BY l.query_id
    """,
    doc=f"nDCG@{TOP_K} of the sign-LSH index against the exact cosine "
    "ranking: graded relevance = how high the exact ranking places "
    f"each retrieved neighbor ({TOP_K}..1), position discount from a "
    "Python-precomputed integer weight table floor(1e6/log2(i+1)) — "
    "the LIBM/CONSTANTS rule keeps log2 out of both engines — and "
    "the ideal DCG is a compile-time constant, so DCG and nDCG are "
    "exact integers (micro / ppm).  Position-aware complement to "
    "ann_recall_eval: recall ignores WHERE in the top-k the index "
    "puts the true neighbors, nDCG charges for misordering.  Same "
    "bucketed-join scale shape as the underlying ANN plans.",
    tags=("similarity", "eval"),
)
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = ann_cosine_topk(spark, sf_dir).select(
        F.col("query_id").alias("e_query_id"),
        F.col("vec_id").alias("e_vec_id"),
        F.col("rank").alias("e_rank"),
    )
    lsh = ann_lsh_topk(spark, sf_dir).select("query_id", "vec_id", "rank")
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    gain = F.when(
        F.col("e_rank").isNotNull(),
        (F.lit(TOP_K + 1) - F.col("e_rank"))
        * F.element_at(w_arr, F.col("rank").cast("int")),
    ).otherwise(F.lit(0))
    joined = lsh.join(
        exact,
        (F.col("query_id") == F.col("e_query_id"))
        & (F.col("vec_id") == F.col("e_vec_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("e_vec_id").cast("long").alias("n_hits"),
        F.sum(gain).cast("long").alias("dcg_micro"),
        F.expr(
            f"CAST(sum(CASE WHEN e_rank IS NOT NULL"
            f" THEN ({TOP_K + 1} - e_rank)"
            f" * element_at(array({', '.join(str(w) for w in _NDCG_W)}),"
            f" CAST(rank AS INT)) ELSE 0 END) * 1000000"
            f" div {_NDCG_IDCG} AS BIGINT)"
        ).alias("ndcg_ppm"),
    )


@register(
    "embedding_dim_stats",
    oracle="""
    , expl AS (
        SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER)
                   AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000
                          + 0.5) AS BIGINT) AS q
        FROM embeddings
    )
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(q) AS BIGINT) AS sum_q,
           CAST(sum(q) // count(*) AS BIGINT) AS mean_q,
           CAST((count(*) * sum(CAST(q AS HUGEINT) * q) - CAST(sum(q)
                 AS HUGEINT) * sum(q))
                // (CAST(count(*) AS HUGEINT) * count(*)) AS BIGINT)
               AS var_q2
    FROM expl GROUP BY dim
    """,
    doc="Per-dimension feature statistics of the embedding column "
    "(mean and population variance) — the normalization /whitening "
    "precursor every vector pipeline computes before indexing.  "
    "Components quantize to exact 1e-6 integers (floor(x*1e6+0.5), "
    "identical both engines), the variance uses the exact integer "
    "identity (n*Σq² - (Σq)²)/n² in HUGEINT/DECIMAL(38,0), and the "
    "long posexplode layout shuffles (dim, partial-agg) pairs, never "
    "whole vectors — the label_centroids scale shape.",
    tags=("similarity", "stats"),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark)
    expl = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "val"
        )
    ).select(
        F.col("dim").cast("int").alias("dim"),
        F.expr("CAST(floor(val * 1000000 + 0.5) AS BIGINT)").alias("q"),
    )
    return expl.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("sum_q"),
        F.expr("CAST(sum(q) div count(*) AS BIGINT)").alias("mean_q"),
        F.expr(
            "CAST((count(*) * sum(CAST(q AS DECIMAL(38,0)) * q)"
            " - CAST(sum(q) AS DECIMAL(38,0)) * sum(q))"
            " div (CAST(count(*) AS DECIMAL(38,0)) * count(*)) AS BIGINT)"
        ).alias("var_q2"),
    )


TRIPLET_MARGIN_X1E6 = 200_000  # satisfied when cos(a,p) - cos(a,n) > 0.2


@register(
    "triplet_mining_margin",
    oracle=f"""
    , emb AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS qlabel,
               c.vec_id AS vec_id,
               CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS same,
               {_DUCK_COS} AS cos,
               row_number() OVER (
                   PARTITION BY q.vec_id,
                                CASE WHEN c.label = q.label
                                     THEN 1 ELSE 0 END
                   ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
               ) AS rn
        FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
    ),
    best AS (
        SELECT query_id, CAST(min(qlabel) AS INTEGER) AS label,
               CAST(max(CASE WHEN same = 1 THEN vec_id END) AS BIGINT)
                   AS pos_id,
               CAST(max(CASE WHEN same = 0 THEN vec_id END) AS BIGINT)
                   AS neg_id,
               max(CASE WHEN same = 1 THEN cos END) AS pos_cos,
               max(CASE WHEN same = 0 THEN cos END) AS neg_cos
        FROM scored WHERE rn = 1 GROUP BY query_id
    )
    SELECT query_id, label, pos_id, neg_id,
           CAST(floor((pos_cos - neg_cos) * 1000000) AS BIGINT)
               AS margin_x1e6,
           CAST(CASE WHEN floor((pos_cos - neg_cos) * 1000000)
                          > {TRIPLET_MARGIN_X1E6}
                     THEN 1 ELSE 0 END AS INTEGER) AS satisfied
    FROM best
    """,
    doc="Contrastive-training triplet mining: for each anchor in the "
    "query set, the hardest positive is its nearest same-label "
    "vector and the hardest negative its nearest other-label vector "
    "(one scored join, ranked within (anchor, same-label) strata — "
    "no second pass), with the triplet margin cos(a,p)-cos(a,n) as "
    "floor fixed-point x1e6 and a satisfied flag at margin 0.2.  "
    "The dataset-construction step for metric-learning pipelines; "
    "unsatisfied triplets are exactly the ones worth training on.  "
    "Same broadcast-query scale shape as ann_cosine_topk (the LSH "
    "bucket join is the drop-in scale path).",
    tags=("similarity", "ml"),
)
def triplet_mining_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("e").alias("qe"),
    )
    joined = emb.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("qe"), F.col("e")) / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    scored = joined.select(
        "query_id",
        "qlabel",
        "vec_id",
        F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias(
            "same"
        ),
        cos.alias("cos"),
    )
    w = W.partitionBy("query_id", "same").orderBy(
        F.desc(F.round("cos", 6)), F.asc("vec_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("query_id")
        .agg(
            F.min("qlabel").cast("int").alias("label"),
            F.max(F.when(F.col("same") == 1, F.col("vec_id")))
            .cast("long")
            .alias("pos_id"),
            F.max(F.when(F.col("same") == 0, F.col("vec_id")))
            .cast("long")
            .alias("neg_id"),
            F.max(F.when(F.col("same") == 1, F.col("cos"))).alias(
                "pos_cos"
            ),
            F.max(F.when(F.col("same") == 0, F.col("cos"))).alias(
                "neg_cos"
            ),
        )
    )
    margin = F.expr("CAST(floor((pos_cos - neg_cos) * 1000000) AS BIGINT)")
    return best.select(
        "query_id",
        "label",
        "pos_id",
        "neg_id",
        margin.alias("margin_x1e6"),
        F.expr(
            f"CAST(CASE WHEN floor((pos_cos - neg_cos) * 1000000)"
            f" > {TRIPLET_MARGIN_X1E6} THEN 1 ELSE 0 END AS INT)"
        ).alias("satisfied"),
    )


# --- IVF nprobe sensitivity sweep ------------------------------------------

_IVF_CAND_SQL = f"""
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, e AS ce FROM emb
             WHERE vec_id % {_DUCK_CELL_MOD} = 1),
    assigned AS (
        SELECT vec_id, e, cell FROM (
            SELECT v.vec_id, v.e, c.cent_id AS cell,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({_duck_cos('v.e', 'c.ce')}, 6) DESC,
                                c.cent_id
                   ) AS rn
            FROM emb v CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qe, cell, rn AS prank FROM (
            SELECT q.vec_id AS query_id, q.e AS qe, c.cent_id AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_duck_cos('q.e', 'c.ce')}, 6) DESC,
                                c.cent_id
                   ) AS rn
            FROM emb q CROSS JOIN cent c
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rn <= {N_PROBE}
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
                   ) AS rank
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rank <= {TOP_K}
    )"""


def _ivf_recall_sql(p: int) -> str:
    return f"""
    SELECT CAST({p} AS INTEGER) AS nprobe,
           CAST(count(DISTINCT e.query_id) AS BIGINT) AS n_queries,
           CAST(count(t.vec_id) AS BIGINT) AS n_hits,
           CAST(count(t.vec_id) * 1000000
                // (count(DISTINCT e.query_id) * {TOP_K}) AS BIGINT)
               AS recall_ppm
    FROM exact e
    LEFT JOIN (
        SELECT query_id, vec_id FROM (
            SELECT pr.query_id, a.vec_id,
                   row_number() OVER (
                       PARTITION BY pr.query_id
                       ORDER BY round({_duck_cos('a.e', 'pr.qe')}, 6) DESC,
                                a.vec_id
                   ) AS rank
            FROM probes pr JOIN assigned a USING (cell)
            WHERE pr.prank <= {p} AND a.vec_id <> pr.query_id
        ) WHERE rank <= {TOP_K}
    ) t ON t.query_id = e.query_id AND t.vec_id = e.vec_id"""


@register(
    "ivf_nprobe_sensitivity",
    oracle=", "
    + _IVF_CAND_SQL
    + "\n    UNION ALL".join(_ivf_recall_sql(p) for p in (1, 2, 3)),
    doc=f"IVF parameter sweep: recall@{TOP_K} against the exact "
    "ranking at nprobe = 1, 2, 3 from ONE shared index build "
    "(centroids, assignments and probe ranks computed once; each "
    "sweep point just filters the probe rank and re-ranks its "
    "candidate subset) — the latency/recall trade-off curve every "
    "IVF deployment tunes before fixing nprobe, here measured "
    "instead of guessed.  Recall must be non-decreasing in nprobe "
    "by construction (tested).  Scale shape: the sweep shares the "
    "O(N*K) assignment broadcast; each point's candidate join "
    "touches prank<=p cells only.",
    tags=("similarity", "eval"),
)
def ivf_nprobe_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    cent = _ivf_cent(spark, sf_dir, emb)
    w_assign = W.partitionBy("vec_id").orderBy(
        F.desc(F.round(F.col("ccos"), 6)), F.asc("cent_id")
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "e",
            "cent_id",
            _cos_expr(F.col("e"), F.col("ce")).alias("ccos"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", F.col("cent_id").alias("cell"))
        # referenced once per probe level below — materialize once
        .transform(snapshot, eager=True)
    )
    probes = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .crossJoin(F.broadcast(cent))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            "cent_id",
            _cos_expr(F.col("e"), F.col("ce")).alias("ccos"),
        )
        .withColumn(
            "prank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.desc(F.round(F.col("ccos"), 6)), F.asc("cent_id")
                )
            ),
        )
        .filter(F.col("prank") <= N_PROBE)
        .select("query_id", "qe", F.col("cent_id").alias("cell"), "prank")
        .transform(snapshot, eager=True)
    )
    exact = ann_cosine_topk(spark, sf_dir).select(
        F.col("query_id").alias("e_query_id"),
        F.col("vec_id").alias("e_vec_id"),
    ).transform(snapshot, eager=True)
    outs = []
    for p in (1, 2, 3):
        wq = W.partitionBy("query_id").orderBy(
            F.desc(F.round(F.col("qcos"), 6)), F.asc("vec_id")
        )
        topk = (
            assigned.join(
                F.broadcast(probes.filter(F.col("prank") <= p)), "cell"
            )
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                _cos_expr(F.col("e"), F.col("qe")).alias("qcos"),
            )
            .withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id")
        )
        hits = exact.join(
            topk,
            (F.col("query_id") == F.col("e_query_id"))
            & (F.col("vec_id") == F.col("e_vec_id")),
            "left",
        )
        outs.append(
            hits.agg(
                F.lit(p).cast("int").alias("nprobe"),
                F.countDistinct("e_query_id")
                .cast("long")
                .alias("n_queries"),
                F.count("vec_id").cast("long").alias("n_hits"),
                F.expr(
                    f"CAST(count(vec_id) * 1000000"
                    f" div (count(DISTINCT e_query_id) * {TOP_K})"
                    " AS BIGINT)"
                ).alias("recall_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


@register(
    "label_cosine_separation",
    oracle=f"""
    , emb AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    scored AS (
        SELECT q.label AS label,
               CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS same,
               CAST(floor({_DUCK_COS} * 1000000) AS BIGINT) AS q
        FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(sum(CASE WHEN same = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same,
           CAST(sum(CASE WHEN same = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_other,
           CAST(CASE WHEN sum(CASE WHEN same = 1 THEN q ELSE 0 END) >= 0
                     THEN sum(CASE WHEN same = 1 THEN q ELSE 0 END)
                          // greatest(sum(CASE WHEN same = 1 THEN 1 ELSE 0 END), 1)
                     ELSE -((-sum(CASE WHEN same = 1 THEN q ELSE 0 END))
                            // greatest(sum(CASE WHEN same = 1 THEN 1 ELSE 0 END), 1))
                END AS BIGINT) AS mean_same_x1e6,
           CAST(CASE WHEN sum(CASE WHEN same = 0 THEN q ELSE 0 END) >= 0
                     THEN sum(CASE WHEN same = 0 THEN q ELSE 0 END)
                          // greatest(sum(CASE WHEN same = 0 THEN 1 ELSE 0 END), 1)
                     ELSE -((-sum(CASE WHEN same = 0 THEN q ELSE 0 END))
                            // greatest(sum(CASE WHEN same = 0 THEN 1 ELSE 0 END), 1))
                END AS BIGINT) AS mean_other_x1e6
    FROM scored GROUP BY label
    """,
    doc="Embedding-space label separation (sampled silhouette "
    "precursor): mean cosine from each sampled anchor to same-label "
    "vs other-label vectors, per label — positive separation means "
    "labels form geometric clusters worth a classifier; near-zero "
    "means the labels are not in the geometry.  Each pairwise "
    "cosine quantizes to floor x1e6 BEFORE aggregation so the sums "
    "are exact integers (cross-engine float-sum order can never "
    "bite), means via symmetric-truncated integral division (the "
    "sums can be negative - signed div/floor trap).  Same broadcast-anchor "
    "join shape as the ANN baseline.",
    tags=("similarity", "eval"),
)
def label_cosine_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("e").alias("qe"),
    )
    cos = _dot(F.col("qe"), F.col("e")) / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            F.col("qlabel").alias("label"),
            F.when(F.col("label") == F.col("qlabel"), 1)
            .otherwise(0)
            .alias("same"),
            F.floor(cos * 1000000).cast("long").alias("q"),
        )
    )
    return scored.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.sum(F.when(F.col("same") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_same"),
        F.sum(F.when(F.col("same") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_other"),
        F.expr('CAST(CASE WHEN sum(CASE WHEN same = 1 THEN q ELSE 0 END) >= 0 THEN sum(CASE WHEN same = 1 THEN q ELSE 0 END) div greatest(sum(CASE WHEN same = 1 THEN 1 ELSE 0 END), 1) ELSE -((-sum(CASE WHEN same = 1 THEN q ELSE 0 END)) div greatest(sum(CASE WHEN same = 1 THEN 1 ELSE 0 END), 1)) END AS BIGINT)').alias("mean_same_x1e6"),
        F.expr('CAST(CASE WHEN sum(CASE WHEN same = 0 THEN q ELSE 0 END) >= 0 THEN sum(CASE WHEN same = 0 THEN q ELSE 0 END) div greatest(sum(CASE WHEN same = 0 THEN 1 ELSE 0 END), 1) ELSE -((-sum(CASE WHEN same = 0 THEN q ELSE 0 END)) div greatest(sum(CASE WHEN same = 0 THEN 1 ELSE 0 END), 1)) END AS BIGINT)').alias("mean_other_x1e6"),
    )


@register(
    "duplicate_vectors_exact",
    oracle="""
    , keyed AS (
        SELECT vec_id,
               md5(array_to_string(list_transform(
                   CAST(embedding AS DOUBLE[]),
                   x -> CAST(CAST(floor(x * 1000000 + 0.5) AS BIGINT)
                             AS VARCHAR)), ',')) AS vkey
        FROM embeddings
    ),
    grp AS (
        SELECT vkey, CAST(count(*) AS BIGINT) AS sz,
               CAST(min(vec_id) AS BIGINT) AS canonical
        FROM keyed GROUP BY vkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_distinct_vectors,
           CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_groups,
           CAST(sum(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) AS BIGINT)
               AS n_redundant_rows,
           CAST(max(sz) AS BIGINT) AS max_group_size
    FROM grp
    """,
    doc="Exact-duplicate vector detection: embeddings keyed by the md5 "
    "of their 1e-6-quantized component string (floor(x*1e6+0.5) per "
    "dim, identical both engines — raw float-to-string rendering "
    "differs cross-engine, quantized integers do not), grouped to "
    "find identical vectors — the embedding-table DQ check run "
    "before ANN indexing, since exact dupes waste index space and "
    "corrupt k-NN label votes.  The hash key reduces the shuffle to "
    "32 bytes per row regardless of dimension.  The per-element "
    "lambda is single-parameter (the two-parameter form binds the "
    "index — CLAUDE.md lambda trap).",
    tags=("similarity", "dq"),
)
def duplicate_vectors_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    keyed = emb.select(
        "vec_id",
        F.md5(
            F.array_join(
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x: F.floor(x * 1000000 + 0.5)
                    .cast("long")
                    .cast("string"),
                ),
                ",",
            )
        ).alias("vkey"),
    )
    grp = keyed.groupBy("vkey").agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.min("vec_id").cast("long").alias("canonical"),
    )
    return grp.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_vectors"),
        F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_groups"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz") - 1).otherwise(0))
        .cast("long")
        .alias("n_redundant_rows"),
        F.max("sz").cast("long").alias("max_group_size"),
    )


@register(
    "label_balance_effective_classes",
    oracle="""
    , lc AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n
        FROM embeddings GROUP BY label
    )
    SELECT CAST(count(*) AS BIGINT) AS n_labels,
           CAST(sum(n) AS BIGINT) AS n_vectors,
           CAST(min(n) AS BIGINT) AS min_label_n,
           CAST(max(n) AS BIGINT) AS max_label_n,
           CAST(CAST(sum(n) AS HUGEINT) * sum(n) * 100
                // sum(CAST(n AS HUGEINT) * n) AS BIGINT)
               AS effective_classes_x100
    FROM lc
    """,
    doc="Label-balance report: the effective number of classes "
    "(inverse Simpson index, (Sum n)^2 / Sum n^2 — equals the label "
    "count iff perfectly balanced, collapses toward 1 under "
    "imbalance) as an exact x100 integer via HUGEINT/DECIMAL cross-"
    "multiplication — the one number that says whether stratified "
    "sampling or loss re-weighting is needed before training on "
    "this label column.  One partial-agg'd rollup over the "
    "dimension-sized label counts.",
    tags=("similarity", "stats"),
)
def label_balance_effective_classes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    lc = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return lc.agg(
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.sum("n").cast("long").alias("n_vectors"),
        F.min("n").cast("long").alias("min_label_n"),
        F.max("n").cast("long").alias("max_label_n"),
        F.expr(
            "CAST(CAST(sum(n) AS DECIMAL(38,0)) * sum(n) * 100"
            " div sum(CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("effective_classes_x100"),
    )


@register(
    "norm_anova_by_label",
    oracle="""
    , q AS (
        SELECT label,
               CAST(floor(sqrt(list_inner_product(
                   CAST(embedding AS DOUBLE[]),
                   CAST(embedding AS DOUBLE[]))) * 1000000 + 0.5)
                    AS BIGINT) AS v
        FROM embeddings
    ),
    per AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
        FROM q GROUP BY label
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS big_n,
               CAST(sum(s) AS BIGINT) AS big_s,
               CAST(sum(ss) AS HUGEINT) AS big_ss,
               CAST(sum(CAST(s AS HUGEINT) * s // n) AS HUGEINT) AS sq
        FROM per
    )
    SELECT CAST(k AS BIGINT) AS n_labels,
           CAST(big_n AS BIGINT) AS n_vectors,
           CAST(sq - CAST(big_s AS HUGEINT) * big_s // big_n AS BIGINT)
               AS ssb_fp,
           CAST(big_ss - sq AS BIGINT) AS ssw_fp,
           CAST((sq - CAST(big_s AS HUGEINT) * big_s // big_n) * (big_n - k)
                * 100 // greatest((big_ss - sq) * (k - 1), 1) AS BIGINT)
               AS f_stat_x100
    FROM tot
    """,
    doc="One-way ANOVA of embedding L2 norms across labels: between- "
    "and within-group sums of squares from the integer identities "
    "(Sum S_j^2/n_j - S^2/N and SS - Sum S_j^2/n_j), with norms "
    "quantized to exact 1e-6 integers first (sqrt is IEEE-exact, "
    "the quantized value identical cross-engine) and the per-group "
    "S_j^2/n_j floored identically on both sides — the F statistic "
    "(x100) answers whether labels differ in vector MAGNITUDE, a "
    "normalization smell (cosine similarity silently hides it, "
    "dot-product retrieval does not).  One partial-agg'd label "
    "rollup, then scalar arithmetic.",
    tags=("similarity", "stats"),
)
def norm_anova_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.expr(
        "CAST(floor(sqrt(aggregate(CAST(embedding AS ARRAY<DOUBLE>),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)) * 1000000"
        " + 0.5) AS BIGINT)"
    )
    q = emb.select("label", v.alias("v"))
    per = q.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v")).alias("ss"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("big_n"),
        F.sum("s").cast("long").alias("big_s"),
        F.sum("ss").alias("big_ss"),
        F.sum(F.expr("CAST(s AS DECIMAL(38,0)) * s div n")).alias("sq"),
    )
    return tot.select(
        F.col("k").alias("n_labels"),
        F.col("big_n").alias("n_vectors"),
        F.expr(
            "CAST(sq - CAST(big_s AS DECIMAL(38,0)) * big_s div big_n"
            " AS BIGINT)"
        ).alias("ssb_fp"),
        F.expr("CAST(big_ss - sq AS BIGINT)").alias("ssw_fp"),
        F.expr(
            "CAST((sq - CAST(big_s AS DECIMAL(38,0)) * big_s div big_n)"
            " * (big_n - k) * 100"
            " div greatest((big_ss - sq) * (k - 1), 1) AS BIGINT)"
        ).alias("f_stat_x100"),
    )


@register(
    "cosine_histogram_sampled",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pairs AS (
        SELECT CAST(floor(({_DUCK_COS} + 1) * 10) AS INTEGER) AS band
        FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pairs)
    SELECT CAST(least(band, 19) AS INTEGER) AS cos_band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) * 1000000 // (SELECT n FROM tot) AS BIGINT)
               AS share_ppm
    FROM pairs GROUP BY least(band, 19)
    """,
    doc="Sampled pairwise-cosine histogram: anchor-to-corpus cosines "
    "bucketed into 20 bands of width 0.1 over [-1, 1] (floor fixed-"
    "point banding of the IEEE-exact cosine; the cos=1.0 edge folds "
    "into the top band) — the distance-concentration diagnostic: a "
    "spike in one narrow band is the curse of dimensionality "
    "telling you metric contrast is gone and ANN pruning will "
    "degrade, the first thing to check when recall drops after an "
    "embedding-model swap.  Same broadcast-anchor join as the ANN "
    "baseline; output is 20 rows.",
    tags=("similarity", "eval"),
)
def cosine_histogram_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    cos = _dot(F.col("qe"), F.col("e")) / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            F.floor((cos + 1) * 10).cast("int").alias("band")
        )
    )
    tot = pairs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        pairs.groupBy(
            F.least(F.col("band"), F.lit(19)).cast("int").alias("cos_band")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cos_band",
            "n_pairs",
            F.expr("CAST(n_pairs * 1000000 div n AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


# --- link prediction on the co-purchase graph (resource allocation) ---------

# hub cap: wedges only route through bottom-quartile-degree center parts —
# hubs dominate wedge fan-out (deg^2) while contributing the least evidence
# (weight 1/deg); a FIXED cap is wrong because co-purchase density depends
# on the part:order ratio (at sf0.01 every part already has deg >= 42), so
# the cap is the exact 25th-percentile degree derived from the degree
# HISTOGRAM (distinct degree values — a tiny table on any corpus), computed
# identically on both engines: smallest dg with 4 * cum_count >= n_nodes.
# 1e9 // deg keeps the score an exact BIGINT.
_RA_PREC = 10**9
_RA_TOPK = 20


@register(
    "link_prediction_ra_topk",
    oracle=f"""
    , basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT x.l_partkey AS a, y.l_partkey AS b
        FROM basket x
        JOIN basket y ON x.l_orderkey = y.l_orderkey
                     AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
    ),
    adj AS (SELECT a AS z, b AS nb FROM e UNION ALL SELECT b AS z, a AS nb FROM e),
    deg AS (SELECT z, count(*) AS dg FROM adj GROUP BY z),
    dh AS (SELECT dg, count(*) AS cnt FROM deg GROUP BY dg),
    dc AS (
        SELECT dg,
               sum(cnt) OVER (ORDER BY dg ROWS UNBOUNDED PRECEDING) AS cum
        FROM dh
    ),
    thr AS (
        SELECT min(dg) AS cap FROM dc
        WHERE 4 * cum >= (SELECT count(*) FROM deg)
    ),
    wedge AS (
        SELECT p.nb AS i, q.nb AS j, {_RA_PREC} // d.dg AS w
        FROM adj p
        JOIN adj q ON p.z = q.z AND p.nb < q.nb
        JOIN deg d ON d.z = p.z
        WHERE d.dg <= (SELECT cap FROM thr)
    ),
    ra AS (
        SELECT i, j, CAST(sum(w) AS BIGINT) AS ra_e9,
               CAST(count(*) AS BIGINT) AS n_common
        FROM wedge GROUP BY i, j
    ),
    cand AS (
        SELECT r.i, r.j, r.n_common, r.ra_e9
        FROM ra r LEFT JOIN e ON e.a = r.i AND e.b = r.j
        WHERE e.a IS NULL
    )
    SELECT CAST(i AS BIGINT) AS pk1, CAST(j AS BIGINT) AS pk2,
           n_common, ra_e9
    FROM cand ORDER BY ra_e9 DESC, pk1, pk2 LIMIT {_RA_TOPK}
    """,
    doc="Link prediction on the co-purchase part graph via the "
    "resource-allocation index (Zhou/Lu/Zhang 2009): for part pairs "
    "NOT yet co-purchased, RA(i,j) = sum over common neighbors z of "
    "1/deg(z) — like Adamic-Adar but log-free, so the score is the "
    "exact integer sum of 1e9 div deg(z) and ranks identically "
    "cross-engine.  Scale shape: edges explode map-side from per-order "
    "sorted part arrays (one fact shuffle), wedges are an equi-join on "
    "the center vertex restricted to bottom-quartile-degree centers "
    "(exact threshold off the tiny degree histogram, so the deg^2 "
    "fan-out self-bounds at any corpus density), existing edges leave "
    "via a broadcast-able "
    "anti-join, and the top-20 is TakeOrdered with a total-order "
    "tie-break — no global sort, no window.",
    tags=("similarity", "graph"),
)
def link_prediction_ra_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    e1 = baskets.select("parts", F.posexplode("parts").alias("i", "a"))
    edges = (
        e1.select("i", "a", F.posexplode("parts").alias("j", "b"))
        .filter(F.col("j") > F.col("i"))
        .select("a", "b")
        .distinct()
        # referenced by adj (2x) and the final anti-join — materialize
        # once instead of replaying the basket double-explode per branch
        .transform(snapshot, eager=True)
    )
    adj = edges.select(F.col("a").alias("z"), F.col("b").alias("nb")).unionAll(
        edges.select(F.col("b").alias("z"), F.col("a").alias("nb"))
    ).transform(snapshot, eager=True)  # deg + both wedge sides read this
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("dg"))
    # exact 25th-percentile degree from the degree histogram: the histogram
    # has one row per DISTINCT degree value (tiny on any corpus), so the
    # global cumulative window runs over a dimension-sized input.
    dh = deg.groupBy("dg").agg(F.count(F.lit(1)).alias("cnt"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    w_cum = W.orderBy("dg").rowsBetween(W.unboundedPreceding, 0)
    thr = (
        dh.withColumn("cum", F.sum("cnt").over(w_cum))
        .crossJoin(F.broadcast(n_nodes))
        .filter(4 * F.col("cum") >= F.col("n"))
        .agg(F.min("dg").alias("cap"))
    )
    small = deg.crossJoin(F.broadcast(thr)).filter(
        F.col("dg") <= F.col("cap")
    )
    # restrict the adjacency to low-degree hubs BEFORE generating wedges:
    # generating from the full adjacency first materializes degree^2
    # wedge rows per hub (dominated by exactly the high-degree hubs the
    # cap discards) and only then filters them — pre-filtering never
    # generates them
    hub = adj.join(small.select("z", "dg"), "z")
    # r07 (guide §2.4): wedges come from per-center sorted neighbor
    # ARRAYS via one grouped double-posexplode — the proven
    # copurchase_part_pairs shape — instead of the hub⋈hub self-join.
    # The collect_list reuses the hub join's hash(z) partitioning (no
    # new exchange), the self-join's two sorts and its probe disappear,
    # and the per-task array is bounded by the degree cap.  adj rows are
    # unique per (z, nb) (edges are distinct), so the sorted array is
    # strictly increasing and pj > pi reproduces nb_i < nb_j exactly.
    nbrs = hub.groupBy("z", "dg").agg(
        F.sort_array(F.collect_list("nb")).alias("nbs")
    )
    wedge = (
        nbrs.select("dg", "nbs", F.posexplode("nbs").alias("pi", "i"))
        .select("dg", "i", "pi", F.posexplode("nbs").alias("pj", "j"))
        .filter(F.col("pj") > F.col("pi"))
        .select("i", "j", F.expr(f"{_RA_PREC} DIV dg").alias("w"))
    )
    ra = wedge.groupBy("i", "j").agg(
        F.sum("w").cast("long").alias("ra_e9"),
        F.count(F.lit(1)).cast("long").alias("n_common"),
    )
    # left-anti against the edge list: without a hint this plans as a
    # SortMergeJoin that SORTS the pair-grain ra relation (the largest
    # relation in the query) just to drop known edges; shuffle_hash
    # builds on the edge side and streams ra unsorted (guide §3.1)
    cand = ra.alias("r").join(
        edges.alias("e").hint("shuffle_hash"),
        F.expr("e.a = r.i AND e.b = r.j"),
        "left_anti",
    )
    return (
        cand.select(
            F.col("i").cast("long").alias("pk1"),
            F.col("j").cast("long").alias("pk2"),
            "n_common",
            "ra_e9",
        )
        .orderBy(F.desc("ra_e9"), "pk1", "pk2")
        .limit(_RA_TOPK)
    )


# --- simplified silhouette of the k-means clustering ------------------------


@register(
    "kmeans_silhouette_by_cluster",
    oracle=f"""
    , e AS (
        SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
               CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    a0 AS (SELECT vec_id, CAST(vec_id % {_DUCK_KM_K} AS BIGINT) AS cluster
           FROM embeddings),
    {_km_duck_iter("a0", 1)},
    {_km_duck_iter("a1", 2)},
    top2 AS (
        SELECT vec_id, cluster, dist_fp,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist_fp, cluster) AS rn
        FROM d2
    ),
    sil AS (
        SELECT vec_id,
               max(CASE WHEN rn = 1 THEN cluster END) AS cluster,
               max(CASE WHEN rn = 1 THEN dist_fp END) AS a_fp,
               max(CASE WHEN rn = 2 THEN dist_fp END) AS b_fp
        FROM top2 WHERE rn <= 2 GROUP BY vec_id
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum((b_fp - a_fp) * 1000000
                    // greatest(greatest(a_fp, b_fp), 1))
                // count(*) AS BIGINT) AS mean_silhouette_ppm,
           CAST(min((b_fp - a_fp) * 1000000
                    // greatest(greatest(a_fp, b_fp), 1))
               AS BIGINT) AS min_silhouette_ppm
    FROM sil GROUP BY cluster
    """,
    doc="Simplified (centroid-based) silhouette per k-means cluster on "
    "integer-quantized squared distances: a = distance to the "
    "assigned (nearest) centroid, b = distance to the second-nearest, "
    "s = (b-a)/max(a,b) in exact integer ppm — the per-cluster mean "
    "and worst member grade clustering quality (near 1e6 = tight and "
    "well-separated, near 0 = boundary) without the O(n^2) pairwise "
    "silhouette.  Shares the embedding_kmeans_assign contract "
    "verbatim (same init, same quantized Lloyd iterations, same "
    "tie-breaks), so it audits exactly the clustering the IVF and "
    "SemDeDup passes consume; the only additions are keeping rank 2 "
    "of the per-vector distance argmin (same WindowGroupLimit pass) "
    "and one 8-group rollup.",
    tags=("similarity", "evaluation"),
)
def kmeans_silhouette_by_cluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fval")
    ).select("vec_id", "dim", F.col("fval").cast("double").alias("val"))
    assign = emb.select(
        "vec_id",
        (F.col("vec_id") % km_clusters(n_vec)).cast("long").alias("cluster"),
    )
    d = None
    w = W.partitionBy("vec_id").orderBy("dist_fp", "cluster")
    for _ in range(KM_ITERS):
        cent = (
            e.join(assign, "vec_id")
            .groupBy("cluster", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("val") * _Q_VAL + F.lit(0.5)).cast("long")
                ).alias("sq"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cluster",
                "dim",
                (
                    F.col("sq").cast("double")
                    / F.col("n").cast("double")
                    / F.lit(_Q_VAL)
                ).alias("c"),
            )
        )
        diff = F.col("val") - F.col("c")
        d = (
            e.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cluster")
            .agg(
                F.sum(
                    F.floor(diff * diff * _Q_DIST).cast("long")
                ).alias("dist_fp")
            )
        )
        assign = (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster", "dist_fp")
        )
    top2 = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    sil = top2.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cluster"))).alias("cluster"),
        F.max(F.when(F.col("rn") == 1, F.col("dist_fp"))).alias("a_fp"),
        F.max(F.when(F.col("rn") == 2, F.col("dist_fp"))).alias("b_fp"),
    )
    term = (
        "(b_fp - a_fp) * 1000000 DIV greatest(greatest(a_fp, b_fp), 1)"
    )
    return sil.groupBy(F.col("cluster").cast("long").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.expr(
            f"CAST(sum({term}) DIV count(*) AS BIGINT)"
        ).alias("mean_silhouette_ppm"),
        F.expr(f"CAST(min({term}) AS BIGINT)").alias("min_silhouette_ppm"),
    )


# --- int8 scalar-quantization error audit -----------------------------------

# symmetric per-vector int8 quantization: q = floor(127*v/maxabs + 0.5)
# (floor(x+0.5), never round() — DuckDB rounds half-even, Spark half-up);
# the reconstruction error is floor-quantized to exact 1e-12 units per
# dimension, so the error sums are order-free BIGINTs on both engines.
_SQ_ERR = (
    "({v} - floor(127.0 * {v} / {s} + 0.5) * {s} / 127.0)"
)


def _sq_err_fp(v: str, s: str) -> str:
    e = _SQ_ERR.format(v=v, s=s)
    return f"CAST(floor({e} * {e} * 1000000000000.0) AS BIGINT)"


@register(
    "int8_quantization_error",
    oracle=f"""
    , e AS (
        SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
               CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    sc AS (SELECT vec_id, max(abs(val)) AS scale FROM e GROUP BY vec_id),
    er AS (
        SELECT e.vec_id,
               sum({_sq_err_fp("e.val", "s.scale")}) AS se_fp,
               CAST(count(*) AS BIGINT) AS nd
        FROM e JOIN sc s USING (vec_id)
        WHERE s.scale > 0
        GROUP BY e.vec_id
    )
    SELECT CAST(m.label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(se_fp // nd) // count(*) AS BIGINT) AS mean_mse_e12,
           CAST(max(se_fp // nd) AS BIGINT) AS max_mse_e12
    FROM er JOIN embeddings m USING (vec_id)
    GROUP BY m.label
    """,
    doc="Scalar (symmetric per-vector max-abs) int8 quantization audit "
    "for the embedding store: quantize every component to 127 levels, "
    "reconstruct, and report per-label mean/worst MSE in exact 1e-12 "
    "units — the go/no-go number before shipping an int8 ANN index "
    "(4x memory cut vs the fp32 store the PQ queries already model).  "
    "Quantize/reconstruct/error is one codegen'd expression per "
    "dimension with floor(x+0.5) rounding (cross-engine-safe, unlike "
    "round()); per-dim squared errors floor-quantize to BIGINT before "
    "summing, so no float accumulation order leaks.  Dataflow: "
    "posexplode long format, per-vector max-abs aggregate joined "
    "back, one (vec) partial agg, label rollup — two shuffles keyed "
    "on vec_id, label dim broadcast-sized.",
    tags=("similarity", "quantization"),
)
def int8_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fval")
    ).select("vec_id", F.col("fval").cast("double").alias("val"))
    sc = e.groupBy("vec_id").agg(F.max(F.abs("val")).alias("scale"))
    er = (
        e.join(sc, "vec_id")
        .filter(F.col("scale") > 0)
        .groupBy("vec_id")
        .agg(
            F.sum(F.expr(_sq_err_fp("val", "scale"))).alias("se_fp"),
            F.count(F.lit(1)).cast("long").alias("nd"),
        )
    )
    lab = emb.select("vec_id", F.col("label").cast("long").alias("label"))
    return (
        er.join(lab, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.expr(
                "CAST(sum(se_fp DIV nd) DIV count(*) AS BIGINT)"
            ).alias("mean_mse_e12"),
            F.expr("CAST(max(se_fp DIV nd) AS BIGINT)").alias("max_mse_e12"),
        )
    )


# --- k-core peeling of the co-purchase graph --------------------------------

_KCORE_ROUNDS = 3


@register(
    "kcore_peeling_rounds",
    oracle=f"""
    , basket AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
        SELECT x.l_partkey AS a, y.l_partkey AS b
        FROM basket x
        JOIN basket y ON x.l_orderkey = y.l_orderkey
                     AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
    ),
    adj0 AS MATERIALIZED (SELECT a AS z, b AS nb FROM e0
             UNION ALL SELECT b AS z, a AS nb FROM e0),
    deg0 AS MATERIALIZED (SELECT z, count(*) AS dg FROM adj0 GROUP BY z),
    dh AS (SELECT dg, count(*) AS cnt FROM deg0 GROUP BY dg),
    dc AS (SELECT dg, sum(cnt) OVER (ORDER BY dg
                                     ROWS UNBOUNDED PRECEDING) AS cum
           FROM dh),
    kk AS (SELECT min(dg) AS k FROM dc
           WHERE 2 * cum >= (SELECT count(*) FROM deg0)),
    s1 AS (SELECT z FROM deg0 WHERE dg >= (SELECT k FROM kk)),
    e1 AS MATERIALIZED (SELECT a, b FROM e0
           JOIN s1 sa ON sa.z = e0.a JOIN s1 sb ON sb.z = e0.b),
    deg1 AS MATERIALIZED (SELECT z, count(*) AS dg FROM (
                 SELECT a AS z FROM e1 UNION ALL SELECT b FROM e1
             ) GROUP BY z),
    s2 AS (SELECT z FROM deg1 WHERE dg >= (SELECT k FROM kk)),
    e2 AS MATERIALIZED (SELECT a, b FROM e1
           JOIN s2 sa ON sa.z = e1.a JOIN s2 sb ON sb.z = e1.b),
    deg2 AS MATERIALIZED (SELECT z, count(*) AS dg FROM (
                 SELECT a AS z FROM e2 UNION ALL SELECT b FROM e2
             ) GROUP BY z),
    s3 AS (SELECT z FROM deg2 WHERE dg >= (SELECT k FROM kk)),
    e3 AS MATERIALIZED (SELECT a, b FROM e2
           JOIN s3 sa ON sa.z = e2.a JOIN s3 sb ON sb.z = e2.b)
    SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS kcore_round,
               (SELECT CAST(count(*) AS BIGINT) FROM deg0) AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
               (SELECT CAST(k AS BIGINT) FROM kk) AS k
        UNION ALL SELECT 1, (SELECT count(*) FROM s1),
                  (SELECT count(*) FROM e1), (SELECT k FROM kk)
        UNION ALL SELECT 2, (SELECT count(*) FROM s2),
                  (SELECT count(*) FROM e2), (SELECT k FROM kk)
        UNION ALL SELECT 3, (SELECT count(*) FROM s3),
                  (SELECT count(*) FROM e3), (SELECT k FROM kk)
    )
    """,
    doc="k-core peeling of the co-purchase part graph, k = exact median "
    "degree (from the tiny degree histogram), {_KCORE_ROUNDS} unrolled "
    "peel rounds: each round drops nodes whose INDUCED degree fell "
    "below k and the edges touching them — the node/edge decay per "
    "round shows how much of the graph is a cohesive core vs "
    "periphery (dense-subgraph mining's first cut, and the standard "
    "preprocessing before community detection).  Per round one "
    "semi-join-shaped edge filter + one degree re-aggregate, all keyed "
    "on part ids — no driver loop state, no collect.  Each round's "
    "edge/degree sets are localCheckpointed (the dedup_components "
    "Pregel pattern): every round is referenced by the next round AND "
    "by its own counts row, and without lineage truncation the plan "
    "tree multiplies per reference (audited at 2300+ exchanges); with "
    "it, each round is one bounded job over the previous round's "
    "materialized survivors.",
    tags=("similarity", "graph"),
)
def kcore_peeling_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    e1 = baskets.select("parts", F.posexplode("parts").alias("i", "a"))
    edges = (
        e1.select("i", "a", F.posexplode("parts").alias("j", "b"))
        .filter(F.col("j") > F.col("i"))
        .select("a", "b")
        .distinct()
    )
    def degrees(ed: DataFrame) -> DataFrame:
        adj = ed.select(F.col("a").alias("z")).unionAll(
            ed.select(F.col("b").alias("z"))
        )
        return adj.groupBy("z").agg(F.count(F.lit(1)).alias("dg"))
    edges = edges.transform(snapshot, eager=True)
    deg0 = degrees(edges)
    dh = deg0.groupBy("dg").agg(F.count(F.lit(1)).alias("cnt"))
    n_nodes0 = deg0.agg(F.count(F.lit(1)).alias("n"))
    w_cum = W.orderBy("dg").rowsBetween(W.unboundedPreceding, 0)
    kk = (
        dh.withColumn("cum", F.sum("cnt").over(w_cum))
        .crossJoin(F.broadcast(n_nodes0))
        .filter(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("dg").alias("k"))
        .transform(snapshot, eager=True)  # 1 row, referenced every round
    )
    rounds = []
    ed, dg = edges, deg0
    rounds.append((dg, ed))
    for _ in range(_KCORE_ROUNDS):
        surv = (
            dg.crossJoin(F.broadcast(kk))
            .filter(F.col("dg") >= F.col("k"))
            .select("z")
        )
        ed = (
            ed.join(surv.select(F.col("z").alias("a")), "a", "left_semi")
            .join(surv.select(F.col("z").alias("b")), "b", "left_semi")
            .select("a", "b")
            .transform(snapshot, eager=True)
        )
        dg = surv.select("z").join(
            degrees(ed).select(F.col("z").alias("_dz"), "dg"),
            F.col("z") == F.col("_dz"),
            "left",
        ).select(
            "z", F.coalesce("dg", F.lit(0)).alias("dg")
        ).transform(snapshot, eager=True)
        rounds.append((dg, ed))
    out = None
    for r, (dg_r, ed_r) in enumerate(rounds):
        row = (
            dg_r.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .crossJoin(
                ed_r.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            )
            .crossJoin(F.broadcast(kk))
            .select(
                F.lit(r).cast("long").alias("kcore_round"),
                "n_nodes",
                "n_edges",
                F.col("k").cast("long").alias("k"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


# --- kNN label purity of the embedding space (sampled probes) ---------------


@register(
    "knn_label_purity_sampled",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    nn AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
                   ) AS rn
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rn <= {TOP_K}
    ),
    pur AS (
        SELECT n.query_id, ql.label,
               CAST(sum(CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END)
                   AS BIGINT) AS matches
        FROM nn n
        JOIN embeddings ql ON ql.vec_id = n.query_id
        JOIN embeddings cl ON cl.vec_id = n.vec_id
        GROUP BY n.query_id, ql.label
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(matches) AS BIGINT) AS n_matches,
           CAST(sum(matches) * 1000000 // (count(*) * {TOP_K}) AS BIGINT)
               AS purity_ppm
    FROM pur GROUP BY label
    """,
    doc="kNN label consistency of the embedding space: for sampled "
    "probes (vec_id % {QUERY_MOD} = 0), the fraction of their "
    "top-{TOP_K} exact-cosine neighbors sharing the probe's label, "
    "rolled up per label — the local complement to the global "
    "label_cosine_separation centroid view, and the metric that "
    "predicts weak-supervision/classifier transfer quality before "
    "training anything.  Ranking reuses the ann_cosine_topk contract "
    "verbatim (round(cos,6) DESC, vec_id tie-break, broadcast query "
    "set), so the purity readout audits exactly the neighbors the "
    "ANN stack serves; label joins are dimension-sized.",
    tags=("similarity", "eval"),
)
def knn_label_purity_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    cos = _dot(F.col("qe"), F.col("e")) / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc(F.round(cos, 6)), F.asc("vec_id")
    )
    nn = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id")
    )
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    pur = (
        nn.join(
            F.broadcast(
                lab.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("qlabel"),
                )
            ),
            "query_id",
        )
        .join(F.broadcast(lab), "vec_id")
        .groupBy("query_id", "qlabel")
        .agg(
            F.sum(
                F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
            )
            .cast("long")
            .alias("matches")
        )
    )
    return pur.groupBy(
        F.col("qlabel").cast("long").alias("label")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum("matches").cast("long").alias("n_matches"),
        F.expr(
            f"CAST(sum(matches) * 1000000 DIV (count(*) * {TOP_K})"
            " AS BIGINT)"
        ).alias("purity_ppm"),
    )


# --- rich-club coefficient of the co-purchase graph -------------------------


@register(
    "rich_club_coefficient",
    oracle="""
    , basket AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e0 AS MATERIALIZED (
        SELECT x.l_partkey AS a, y.l_partkey AS b
        FROM basket x
        JOIN basket y ON x.l_orderkey = y.l_orderkey
                     AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
    ),
    deg AS MATERIALIZED (
        SELECT z, count(*) AS dg FROM (
            SELECT a AS z FROM e0 UNION ALL SELECT b FROM e0
        ) GROUP BY z
    ),
    dh AS (SELECT dg, count(*) AS cnt FROM deg GROUP BY dg),
    dc AS (SELECT dg, sum(cnt) OVER (ORDER BY dg
                                     ROWS UNBOUNDED PRECEDING) AS cum
           FROM dh),
    nn AS (SELECT count(*) AS n FROM deg),
    thr AS MATERIALIZED (
        SELECT q, min(dg) AS k FROM dc CROSS JOIN (
            SELECT * FROM (VALUES (1), (2), (3)) AS t(q)
        ) CROSS JOIN nn
        WHERE 4 * cum >= q * n GROUP BY q
    ),
    club AS MATERIALIZED (
        SELECT t.q, t.k, d.z
        FROM thr t JOIN deg d ON d.dg > t.k
    ),
    within AS (
        SELECT c1.q, CAST(count(*) AS BIGINT) AS m
        FROM e0
        JOIN club c1 ON c1.z = e0.a
        JOIN club c2 ON c2.z = e0.b AND c2.q = c1.q
        GROUP BY c1.q
    ),
    sizes AS (
        SELECT q, max(k) AS k, CAST(count(*) AS BIGINT) AS n_club
        FROM club GROUP BY q
    )
    SELECT CAST(s.q * 25 AS BIGINT) AS degree_percentile,
           CAST(s.k AS BIGINT) AS k,
           s.n_club,
           CAST(coalesce(w.m, 0) AS BIGINT) AS n_edges_within,
           CAST(coalesce(w.m, 0) * 2000000
                // greatest(s.n_club * (s.n_club - 1), 1) AS BIGINT)
               AS phi_ppm
    FROM sizes s LEFT JOIN within w ON w.q = s.q
    """,
    doc="Rich-club coefficient of the co-purchase part graph at the "
    "25th/50th/75th-percentile degree thresholds: phi(k) = fraction "
    "of possible edges actually present among nodes with degree > k "
    "(exact ppm, 2m/(n(n-1))) — rising phi with k means the hubs "
    "form their own densely-wired club, the structural signature "
    "behind hub-and-spoke catalogs (and the complement of "
    "degree_assortativity_copurchase, which only sees edge "
    "endpoints' correlation).  Thresholds come off the tiny degree "
    "histogram (exact quantiles, no sort of the node table); club "
    "membership is one theta-free join deg.dg > k per threshold, "
    "and the within-club edge count joins the edge list against the "
    "club twice on part id — all equi-joins after the one basket "
    "rollup.",
    tags=("similarity", "graph"),
)
def rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    e1 = baskets.select("parts", F.posexplode("parts").alias("i", "a"))
    edges = (
        e1.select("i", "a", F.posexplode("parts").alias("j", "b"))
        .filter(F.col("j") > F.col("i"))
        .select("a", "b")
        .distinct()
        .transform(snapshot, eager=False)
    )
    deg = (
        edges.select(F.col("a").alias("z"))
        .unionAll(edges.select(F.col("b").alias("z")))
        .groupBy("z")
        .agg(F.count(F.lit(1)).alias("dg"))
        .transform(snapshot, eager=False)
    )
    dh = deg.groupBy("dg").agg(F.count(F.lit(1)).alias("cnt"))
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    w_cum = W.orderBy("dg").rowsBetween(W.unboundedPreceding, 0)
    qs = spark.range(1, 4).select(F.col("id").cast("int").alias("q"))
    thr = (
        dh.withColumn("cum", F.sum("cnt").over(w_cum))
        .crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(nn))
        .filter(4 * F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("dg").alias("k"))
    )
    club = (
        thr.alias("t")
        .join(deg.alias("d"), F.expr("d.dg > t.k"))
        .select("t.q", "t.k", "d.z")
        .transform(snapshot, eager=False)
    )
    within = (
        edges.join(
            club.select(F.col("q").alias("q1"), F.col("z").alias("a")),
            "a",
        )
        .join(
            club.select(F.col("q").alias("q2"), F.col("z").alias("b")),
            "b",
        )
        .filter(F.col("q1") == F.col("q2"))
        .groupBy(F.col("q1").alias("q"))
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    sizes = club.groupBy("q").agg(
        F.max("k").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_club"),
    )
    return (
        sizes.alias("s")
        .join(within.alias("w"), "q", "left")
        .select(
            F.expr("CAST(q * 25 AS BIGINT)").alias("degree_percentile"),
            F.col("k").cast("long").alias("k"),
            "n_club",
            F.coalesce(F.col("m"), F.lit(0))
            .cast("long")
            .alias("n_edges_within"),
            F.expr(
                "CAST(coalesce(m, 0) * 2000000"
                " DIV greatest(n_club * (n_club - 1), 1) AS BIGINT)"
            ).alias("phi_ppm"),
        )
    )


# --- two-NN distance-ratio histogram (intrinsic-dimension diagnostic) -------


@register(
    "twonn_ratio_histogram",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    nn2 AS (
        SELECT query_id,
               max(CASE WHEN rn = 1 THEN d END) AS d1,
               max(CASE WHEN rn = 2 THEN d END) AS d2
        FROM (
            SELECT q.vec_id AS query_id,
                   1.0 - round({_DUCK_COS}, 6) AS d,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
                   ) AS rn
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rn <= 2 GROUP BY query_id
    ),
    band AS (
        SELECT CAST(least(9, greatest(CAST(floor(
                   (d2 - d1) * 10.0 / greatest(d1, 1e-12)
               ) AS BIGINT), 0)) AS BIGINT) AS ratio_band
        FROM nn2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM band)
    SELECT ratio_band,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(count(*) * 1000000 // (SELECT n FROM tot) AS BIGINT)
               AS share_ppm
    FROM band GROUP BY ratio_band
    """,
    doc="Two-NN distance-ratio histogram (Facco et al.'s intrinsic- "
    "dimension diagnostic, banded instead of MLE-fitted to stay "
    "log-free): per sampled probe the ratio of its 2nd- to 1st- "
    "nearest cosine distance, banded by floor(10*(d2-d1)/d1) — mass "
    "piled in band 0 (mu near 1) is the high-intrinsic-dimension "
    "signature that predicts weak ANN pruning, a heavy tail means "
    "low-dimensional cluster structure ANN exploits.  Distances "
    "derive from the SAME round(cos,6) the ranking uses, so "
    "d2 >= d1 by construction and every band is bit-stable; the "
    "probe join is the shared broadcast-anchor pattern with a "
    "rank-2 WindowGroupLimit.",
    tags=("similarity", "eval"),
)
def twonn_ratio_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    cos_r = F.round(
        _dot(F.col("qe"), F.col("e"))
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")))
            * F.sqrt(_dot(F.col("e"), F.col("e")))
        ),
        6,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_r"), F.asc("vec_id"))
    top2 = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos_r.alias("cos_r"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("query_id", "rn", (F.lit(1.0) - F.col("cos_r")).alias("d"))
    )
    nn2 = top2.groupBy("query_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
        F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
    )
    band = nn2.select(
        F.expr(
            "CAST(least(9, greatest(CAST(floor("
            "(d2 - d1) * 10.0 / greatest(d1, 1e-12)"
            ") AS BIGINT), 0)) AS BIGINT)"
        ).alias("ratio_band")
    )
    tot = band.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        band.groupBy("ratio_band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
        .crossJoin(F.broadcast(tot))
        .select(
            "ratio_band",
            "n_probes",
            F.expr("CAST(n_probes * 1000000 DIV n AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


# --- centroid drift between embedding cohorts -------------------------------


@register(
    "embedding_centroid_drift",
    oracle=f"""
    , e AS (
        SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
               CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    hmax AS (SELECT max(vec_id) AS mx FROM embeddings),
    tagged AS (
        SELECT m.label, e.dim,
               CASE WHEN e.vec_id * 2 <= h.mx THEN 0 ELSE 1 END AS half,
               CAST(floor(e.val * {_Q_VAL} + 0.5) AS BIGINT) AS q
        FROM e JOIN embeddings m ON m.vec_id = e.vec_id CROSS JOIN hmax h
    ),
    cs AS (
        SELECT label, dim,
               sum(CASE WHEN half = 0 THEN q ELSE 0 END) AS s1,
               sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN half = 1 THEN q ELSE 0 END) AS s2,
               sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n2
        FROM tagged GROUP BY label, dim
    ),
    dd AS (
        SELECT label, n1, n2,
               CAST(floor(
                   (CAST(s1 * n2 - s2 * n1 AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       * {_Q_VAL}))
                   * (CAST(s1 * n2 - s2 * n1 AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                         * {_Q_VAL}))
                   * {_Q_DIST}) AS BIGINT) AS d_fp
        FROM cs
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(max(n1) AS BIGINT) AS n_first,
           CAST(max(n2) AS BIGINT) AS n_second,
           CAST(sum(d_fp) AS BIGINT) AS drift_sq_fp
    FROM dd GROUP BY label
    """,
    doc="Per-label centroid drift between the first and second half of "
    "the embedding store (vec_id split at the midpoint — the proxy "
    "for 'embeddings written before vs after a model swap'): squared "
    "L2 distance between half-cohort centroids in 1e-9 fixed-point — "
    "nonzero drift on a label is the re-embedding inconsistency that "
    "silently breaks ANN recall when two encoder versions share one "
    "index.  Centroid differences are the exact cross-multiplied "
    "integers s1*n2 - s2*n1 over quantized components; each "
    "dimension's squared term floor-quantizes before the sum, so no "
    "float order leaks.  One posexplode pass, a (label, dim) "
    "aggregate with CASE-split halves, K*dim rows thereafter.",
    tags=("similarity", "drift"),
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    hmax = emb.agg(F.max("vec_id").alias("mx"))
    e = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "fval"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("fval").cast("double") * _Q_VAL + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    tagged = e.crossJoin(F.broadcast(hmax)).select(
        "label",
        "dim",
        F.when(F.col("vec_id") * 2 <= F.col("mx"), 0).otherwise(1).alias(
            "half"
        ),
        "q",
    )
    cs = tagged.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("half") == 0, F.col("q")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("half") == 1, F.col("q")).otherwise(0)).alias("s2"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n2"),
    )
    diff = (
        f"(CAST(s1 * n2 - s2 * n1 AS DOUBLE)"
        f" / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * {_Q_VAL}))"
    )
    dd = cs.select(
        "label",
        "n1",
        "n2",
        F.expr(
            f"CAST(floor({diff} * {diff} * {_Q_DIST}) AS BIGINT)"
        ).alias("d_fp"),
    )
    return dd.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.max("n1").cast("long").alias("n_first"),
        F.max("n2").cast("long").alias("n_second"),
        F.sum("d_fp").cast("long").alias("drift_sq_fp"),
    )


# --- global clustering coefficient of the co-purchase graph -----------------


@register(
    "global_clustering_coefficient",
    oracle="""
    , basket AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e0 AS MATERIALIZED (
        SELECT x.l_partkey AS a, y.l_partkey AS b
        FROM basket x
        JOIN basket y ON x.l_orderkey = y.l_orderkey
                     AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
    ),
    deg AS (
        SELECT z, CAST(count(*) AS BIGINT) AS dg FROM (
            SELECT a AS z FROM e0 UNION ALL SELECT b FROM e0
        ) GROUP BY z
    ),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS t
        FROM e0 ab
        JOIN e0 bc ON bc.a = ab.b
        JOIN e0 ac ON ac.a = ab.a AND ac.b = bc.b
    ),
    wdg AS (
        SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS w FROM deg
    )
    SELECT t AS n_triangles, w AS n_wedges,
           CAST(3 * t * 1000000 // greatest(w, 1) AS BIGINT)
               AS clustering_ppm
    FROM tri CROSS JOIN wdg
    """,
    doc="Global clustering coefficient (transitivity) of the "
    "co-purchase part graph: 3 * triangles / wedges in exact ppm — "
    "the one-number 'do my neighbors know each other' summary that "
    "complements triangle_count_copurchase (raw count) and "
    "degree_assortativity (endpoint correlation); high transitivity "
    "justifies neighborhood-based recommendation.  Triangles come "
    "from the oriented (a<b) edge list joined twice — each edge "
    "ordered once, so every triangle counts exactly once and the "
    "join fan-out is edge-degree bounded; wedges are the closed "
    "form sum C(deg,2) off the degree table.  All equi-joins keyed "
    "on part ids.",
    tags=("similarity", "graph"),
)
def global_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    e1 = baskets.select("parts", F.posexplode("parts").alias("i", "a"))
    edges = (
        e1.select("i", "a", F.posexplode("parts").alias("j", "b"))
        .filter(F.col("j") > F.col("i"))
        .select("a", "b")
        .distinct()
        .transform(snapshot, eager=False)
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .transform(snapshot, eager=False)  # wedge sum + orientation both read
    )
    # degree-oriented exact triangle count (operators/triangles.py) —
    # the naive edges³ join materializes every wedge; the oriented
    # edge-iterator never does (the triangle_count_copurchase skeleton)
    from mqtt2sql_spark.operators.triangles import oriented_triangle_count

    tri = oriented_triangle_count(edges, deg)
    wdg = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("w")
    )
    return tri.crossJoin(F.broadcast(wdg)).select(
        F.col("n_tri").alias("n_triangles"),
        F.col("w").alias("n_wedges"),
        F.expr(
            "CAST(3 * n_tri * 1000000 DIV greatest(w, 1) AS BIGINT)"
        ).alias("clustering_ppm"),
    )


# --- top principal component share via power iteration ----------------------

# symmetric integer division (Spark div truncates, DuckDB // floors; they
# agree only for non-negative operands — eigenvector components go negative)
_PI_SYMDIV = (
    "CASE WHEN {x} >= 0 THEN ({x}) {div} {n}"
    " ELSE -((-({x})) {div} {n}) END"
)


@register(
    "top_pc_variance_share",
    oracle=f"""
    , ev AS (
        SELECT vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS v,
               generate_subscripts(embedding, 1) - 1 AS i
        FROM embeddings
    ),
    gm AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j,
               CAST(sum(CAST(floor(a.v * b.v * 1000000) AS BIGINT))
                    AS BIGINT) AS g
        FROM ev a JOIN ev b ON a.vec_id = b.vec_id
        GROUP BY 1, 2
    ),
    w1 AS (SELECT i, CAST(sum(g) * 1000 AS BIGINT) AS w FROM gm GROUP BY i),
    m1 AS (SELECT max(abs(w)) AS m FROM w1),
    v1 AS MATERIALIZED (
        SELECT i, CAST({_PI_SYMDIV.format(x="w * 1000", div="//", n="(SELECT greatest(m, 1) FROM m1)")} AS BIGINT) AS v
        FROM w1
    ),
    w2 AS (
        SELECT gm.i, CAST(sum(gm.g * v1.v) AS BIGINT) AS w
        FROM gm JOIN v1 ON v1.i = gm.j GROUP BY gm.i
    ),
    ray AS (
        SELECT CAST(sum(CAST(v1.v AS HUGEINT) * w2.w) AS HUGEINT) AS num,
               CAST(sum(CAST(v1.v AS HUGEINT) * v1.v) AS HUGEINT) AS den
        FROM v1 JOIN w2 ON w2.i = v1.i
    ),
    tr AS (SELECT CAST(sum(g) AS BIGINT) AS trace_q6 FROM gm WHERE i = j)
    SELECT CAST(num // greatest(den, 1) AS BIGINT) AS top_eig_q6,
           trace_q6,
           CAST(CAST(num // greatest(den, 1) AS HUGEINT) * 1000000
                // greatest(trace_q6, 1) AS BIGINT) AS top_share_ppm
    FROM ray CROSS JOIN tr
    """,
    doc="Top-principal-component variance share by two unrolled power "
    "iterations on the integer Gram matrix (the "
    "embedding_gram_matrix sufficient statistic): lambda_1 via the "
    "Rayleigh quotient in exact fixed point, reported against "
    "trace(G) as the explained-variance share in ppm — the "
    "anisotropy number that says whether embeddings collapse onto "
    "one dominant direction (a known failure mode that wrecks "
    "cosine retrieval).  The iteration state is a 64-vector in "
    "1e3-scale integers normalized by SYMMETRIC division (components "
    "go negative; Spark div / DuckDB // disagree below zero), every "
    "matrix-vector product is exact BIGINT multiply-add, and the "
    "final quotient is one int128 division — bit-identical numerics "
    "on a d x d matrix that never grows with corpus size.",
    tags=("similarity", "linalg"),
)
def top_pc_variance_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    gm = embedding_gram_matrix(spark, sf_dir).select(
        "i", "j", F.col("gram_q6").alias("g")
    ).transform(snapshot, eager=False)
    w1 = gm.groupBy("i").agg((F.sum("g") * 1000).cast("long").alias("w"))
    m1 = w1.agg(F.greatest(F.max(F.abs("w")), F.lit(1)).alias("m"))
    v1 = (
        w1.crossJoin(F.broadcast(m1))
        .select(
            "i",
            F.expr(
                _PI_SYMDIV.format(x="w * 1000", div="DIV", n="m")
            ).cast("long").alias("v"),
        )
        .transform(snapshot, eager=False)
    )
    w2 = (
        gm.join(
            v1.select(F.col("i").alias("j"), "v"), "j"
        )
        .groupBy("i")
        .agg(F.sum(F.col("g") * F.col("v")).cast("long").alias("w"))
    )
    ray = (
        v1.join(w2, "i")
        .agg(
            F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * w")).alias("num"),
            F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v")).alias("den"),
        )
    )
    tr = gm.filter(F.col("i") == F.col("j")).agg(
        F.sum("g").cast("long").alias("trace_q6")
    )
    return ray.crossJoin(F.broadcast(tr)).select(
        F.expr(
            "CAST(num div greatest(den, CAST(1 AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("top_eig_q6"),
        "trace_q6",
        F.expr(
            "CAST(CAST(num div greatest(den, CAST(1 AS DECIMAL(38,0)))"
            " AS DECIMAL(38,0)) * 1000000 div greatest(trace_q6, 1)"
            " AS BIGINT)"
        ).alias("top_share_ppm"),
    )


# --- metric sensitivity: cosine vs dot-product rank overlap ------------------

_DUCK_DOT = (
    "list_sum(list_transform(range(1, len(q.e) + 1),"
    " k -> q.e[k] * c.e[k]))"
)


@register(
    "metric_rank_overlap",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cosk AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
                   ) AS rn
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rn <= {TOP_K}
    ),
    dotk AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_DOT}, 6) DESC, c.vec_id
                   ) AS rn
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rn <= {TOP_K}
    ),
    ov AS (
        SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_common
        FROM cosk a JOIN dotk b
          ON b.query_id = a.query_id AND b.vec_id = a.vec_id
        GROUP BY a.query_id
    ),
    per AS (
        SELECT c.query_id, coalesce(o.n_common, 0) AS n_common
        FROM (SELECT DISTINCT query_id FROM cosk) c
        LEFT JOIN ov o ON o.query_id = c.query_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(n_common) AS BIGINT) AS total_common,
           CAST(sum(n_common) * 1000000 // (count(*) * {TOP_K}) AS BIGINT)
               AS overlap_ppm,
           CAST(min(n_common) AS BIGINT) AS worst_overlap
    FROM per
    """,
    doc="Metric-sensitivity audit: per sampled probe, the overlap "
    "between its top-{TOP_K} neighbors under cosine vs raw "
    "dot-product ranking — low overlap means vector norms carry "
    "enough variance (see norm_anova_by_label) that the choice of "
    "similarity silently rewrites retrieval results; near-1e6 "
    "overlap licenses the cheaper un-normalized index.  Both "
    "rankings share the broadcast-anchor join and the round(. ,6) "
    "DESC, vec_id rank contract, so the comparison isolates the "
    "metric — not tie-break noise.  Output is one summary row.",
    tags=("similarity", "eval"),
)
def metric_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    joined = emb.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    dot = _dot(F.col("qe"), F.col("e"))
    cos = dot / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("e"), F.col("e")))
    )

    def topk(score):
        w = W.partitionBy("query_id").orderBy(
            F.desc(F.round(score, 6)), F.asc("vec_id")
        )
        return (
            joined.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "vec_id")
        )

    cosk = topk(cos).transform(snapshot, eager=False)
    dotk = topk(dot)
    ov = (
        cosk.alias("a")
        .join(
            dotk.alias("b"),
            F.expr("b.query_id = a.query_id AND b.vec_id = a.vec_id"),
        )
        .groupBy("a.query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    per = (
        cosk.select("query_id")
        .distinct()
        .join(ov, "query_id", "left")
        .select(F.coalesce("n_common", F.lit(0)).alias("n_common"))
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum("n_common").cast("long").alias("total_common"),
        F.expr(
            f"CAST(sum(n_common) * 1000000 DIV (count(*) * {TOP_K})"
            " AS BIGINT)"
        ).alias("overlap_ppm"),
        F.min("n_common").cast("long").alias("worst_overlap"),
    )


# --- hubness (k-occurrence skew) of the sampled kNN graph -------------------

_HUB_SKEW = (
    "CAST(floor("
    " (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    "  - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    "  + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    " / greatest((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    "    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    "   * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    "          - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))), 1e-12)"
    " * 1000) AS BIGINT)"
)


@register(
    "ann_hubness_stats",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    nn AS (
        SELECT vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
                   ) AS rn
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rn <= {TOP_K}
    ),
    occ AS (
        SELECT vec_id, CAST(count(*) AS BIGINT) AS k_occ
        FROM nn GROUP BY vec_id
    ),
    mo AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k_occ) AS BIGINT) AS s1,
               CAST(sum(k_occ * k_occ) AS BIGINT) AS s2,
               CAST(sum(k_occ * k_occ * k_occ) AS BIGINT) AS s3,
               CAST(max(k_occ) AS BIGINT) AS max_occ
        FROM occ
    )
    SELECT n AS n_hit_vectors, s1 AS total_occurrences, max_occ,
           CAST(s1 * 100 // n AS BIGINT) AS mean_occ_x100,
           {_HUB_SKEW} AS skewness_x1e3
    FROM mo
    """,
    doc="Hubness diagnostic of the embedding space (Radovanovic et "
    "al.): the k-occurrence distribution — how often each vector "
    "appears in the sampled probes' top-{TOP_K} lists — summarized "
    "by its max, mean and SKEWNESS: in high intrinsic dimension a "
    "few 'hub' vectors occur in almost every neighbor list "
    "(strongly right-skewed N_k), degrading both kNN classification "
    "and ANN graph quality; complements twonn_ratio_histogram "
    "(distances) and knn_label_purity (labels) on the same shared "
    "neighbor lists.  Raw moments are exact BIGINTs; skewness is "
    "one textually-shared float expression over them.",
    tags=("similarity", "eval"),
)
def ann_hubness_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    cos = _dot(F.col("qe"), F.col("e")) / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc(F.round(cos, 6)), F.asc("vec_id")
    )
    nn = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("vec_id")
    )
    occ = nn.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_occ")
    )
    mo = occ.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k_occ").cast("long").alias("s1"),
        F.sum(F.col("k_occ") * F.col("k_occ")).cast("long").alias("s2"),
        F.sum(F.col("k_occ") * F.col("k_occ") * F.col("k_occ"))
        .cast("long")
        .alias("s3"),
        F.max("k_occ").cast("long").alias("max_occ"),
    )
    return mo.select(
        F.col("n").alias("n_hit_vectors"),
        F.col("s1").alias("total_occurrences"),
        "max_occ",
        F.expr("CAST(s1 * 100 DIV n AS BIGINT)").alias("mean_occ_x100"),
        F.expr(_HUB_SKEW).alias("skewness_x1e3"),
    )


# --- modularity of the brand partition on the co-purchase graph -------------


@register(
    "copurchase_brand_modularity",
    oracle="""
    , basket AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e0 AS MATERIALIZED (
        SELECT x.l_partkey AS a, y.l_partkey AS b
        FROM basket x
        JOIN basket y ON x.l_orderkey = y.l_orderkey
                     AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
    ),
    lab AS (SELECT p_partkey, p_brand FROM part),
    el AS MATERIALIZED (
        SELECT pa.p_brand AS ba, pb.p_brand AS bb
        FROM e0
        JOIN lab pa ON pa.p_partkey = e0.a
        JOIN lab pb ON pb.p_partkey = e0.b
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM el),
    brand AS (
        SELECT p_brand,
               CAST(sum(CASE WHEN ba = bb AND ba = p_brand
                             THEN 1 ELSE 0 END) AS BIGINT) AS e_in,
               CAST(sum(CASE WHEN ba = p_brand THEN 1 ELSE 0 END)
                    + sum(CASE WHEN bb = p_brand THEN 1 ELSE 0 END)
                   AS BIGINT) AS d_c
        FROM el CROSS JOIN (SELECT DISTINCT p_brand FROM part) br
        GROUP BY p_brand
    ),
    q AS (
        SELECT CAST(sum(4 * CAST(m.m AS HUGEINT) * e_in
                        - CAST(d_c AS HUGEINT) * d_c) AS HUGEINT) AS num,
               CAST(max(4 * CAST(m.m AS HUGEINT) * m.m) AS HUGEINT) AS den
        FROM brand CROSS JOIN m
    )
    SELECT (SELECT m FROM m) AS n_edges,
           CAST(num * 1000000 // greatest(den, 1) AS BIGINT)
               AS modularity_ppm
    FROM q
    """,
    doc="Newman modularity of the brand partition on the co-purchase "
    "graph: Q = sum_c (e_c/m - (d_c/2m)^2), rearranged to the exact "
    "integer ratio (sum 4m*e_c - d_c^2) / 4m^2 so the score is pure "
    "ppm — near zero means brands do NOT form purchase communities "
    "(cross-brand baskets dominate), large positive licenses "
    "brand-level partitioning for the recommender and for graph "
    "storage locality.  Edges are labeled by two broadcast "
    "dim joins; per-brand internal edges and degree sums are one "
    "conditional rollup over the 25-brand fan-out (the cross join "
    "is against the 25-row brand dim, not data).",
    tags=("similarity", "graph"),
)
def copurchase_brand_modularity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    e1 = baskets.select("parts", F.posexplode("parts").alias("i", "a"))
    edges = (
        e1.select("i", "a", F.posexplode("parts").alias("j", "b"))
        .filter(F.col("j") > F.col("i"))
        .select("a", "b")
        .distinct()
    )
    lab = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    el = (
        edges.join(
            F.broadcast(lab.select(F.col("p_partkey").alias("a"),
                                   F.col("p_brand").alias("ba"))), "a"
        )
        .join(
            F.broadcast(lab.select(F.col("p_partkey").alias("b"),
                                   F.col("p_brand").alias("bb"))), "b"
        )
        .select("ba", "bb")
        .transform(snapshot, eager=False)
    )
    m = el.agg(F.count(F.lit(1)).cast("long").alias("m"))
    br = lab.select("p_brand").distinct()
    brand = (
        el.crossJoin(F.broadcast(br))
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.when(
                    (F.col("ba") == F.col("bb"))
                    & (F.col("ba") == F.col("p_brand")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("e_in"),
            (
                F.sum(
                    F.when(F.col("ba") == F.col("p_brand"), 1).otherwise(0)
                )
                + F.sum(
                    F.when(F.col("bb") == F.col("p_brand"), 1).otherwise(0)
                )
            )
            .cast("long")
            .alias("d_c"),
        )
    )
    # r08 (at-scale correctness): num * 1e6 overflows int64 at the 100x
    # replica (stress-sweep witness, under ANSI) — num/den computed in
    # DECIMAL(38,0), mirrored by HUGEINT casts in the oracle; the
    # compared surface stays BIGINT (truncating integral division
    # matches: both engines truncate toward zero on integral types)
    q = brand.crossJoin(F.broadcast(m)).agg(
        F.sum(
            F.expr(
                "4 * CAST(m AS DECIMAL(38,0)) * e_in"
                " - CAST(d_c AS DECIMAL(38,0)) * d_c"
            )
        ).alias("num"),
        F.max(F.expr("4 * CAST(m AS DECIMAL(38,0)) * m")).alias("den"),
    )
    return q.crossJoin(F.broadcast(m)).select(
        F.col("m").alias("n_edges"),
        F.expr(
            "CAST(num * 1000000 DIV greatest(den, 1) AS BIGINT)"
        ).alias("modularity_ppm"),
    )


# --- per-dimension label separability (feature selection) -------------------

_DIMF_TOPK = 10


@register(
    "dim_fstat_topk",
    oracle=f"""
    , e AS (
        SELECT m.label, CAST(i - 1 AS INTEGER) AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * {_Q_VAL} + 0.5)
                   AS BIGINT) AS v
        FROM embeddings m, unnest(generate_series(1, len(embedding)))
             AS t(i)
    ),
    per AS (
        SELECT dim, label, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
        FROM e GROUP BY dim, label
    ),
    tot AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS big_n,
               CAST(sum(s) AS BIGINT) AS big_s,
               CAST(sum(ss) AS HUGEINT) AS big_ss,
               CAST(sum(CAST(s AS HUGEINT) * s // n) AS HUGEINT) AS sq
        FROM per GROUP BY dim
    ),
    f AS (
        SELECT dim,
               CAST(CAST(sq - CAST(big_s AS HUGEINT) * big_s // big_n
                         AS HUGEINT) * (big_n - k) * 100
                    // greatest((big_ss - sq) * (k - 1), 1) AS BIGINT)
                   AS f_stat_x100
        FROM tot
    )
    SELECT CAST(dim AS BIGINT) AS dim, f_stat_x100,
           CAST(row_number() OVER (ORDER BY f_stat_x100 DESC, dim)
               AS BIGINT) AS rank
    FROM f
    ORDER BY f_stat_x100 DESC, dim LIMIT {_DIMF_TOPK}
    """,
    doc="Univariate feature selection over embedding dimensions: "
    "one-way ANOVA F across labels computed independently for each "
    "of the 64 dimensions (quantized 1e-6 values, exact int128 "
    "moment sums — the norm_anova_by_label formulation vectorized "
    "over dims), returning the top-{_DIMF_TOPK} most "
    "label-separating dimensions — the SelectKBest(f_classif) "
    "readout that tells you whether label signal concentrates in a "
    "few coordinates (a sign of rotation-variant training or a "
    "quantization opportunity) or spreads evenly.  One posexplode "
    "pass, a (dim, label) partial aggregate (64*K rows), a 64-row "
    "fold and a TakeOrdered — corpus scanned once.",
    tags=("similarity", "feature-selection"),
)
def dim_fstat_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    e = emb.select(
        "label", F.posexplode("embedding").alias("dim", "fval")
    ).select(
        "label",
        "dim",
        F.floor(F.col("fval").cast("double") * _Q_VAL + F.lit(0.5))
        .cast("long")
        .alias("v"),
    )
    per = e.groupBy("dim", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v")).alias("ss"),
    )
    tot = per.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("big_n"),
        F.sum("s").cast("long").alias("big_s"),
        F.sum("ss").alias("big_ss"),
        F.sum(F.expr("CAST(s AS DECIMAL(38,0)) * s div n")).alias("sq"),
    )
    f = tot.select(
        "dim",
        F.expr(
            "CAST(CAST(sq - CAST(big_s AS DECIMAL(38,0)) * big_s div big_n"
            " AS DECIMAL(38,0)) * (big_n - k) * 100"
            " div greatest(CAST(big_ss - sq AS DECIMAL(38,0)) * (k - 1), 1)"
            " AS BIGINT)"
        ).alias("f_stat_x100"),
    )
    w = W.orderBy(F.desc("f_stat_x100"), F.asc("dim"))
    return (
        f.withColumn("rank", F.row_number().over(w).cast("long"))
        .orderBy(F.desc("f_stat_x100"), "dim")
        .limit(_DIMF_TOPK)
        .select(F.col("dim").cast("long").alias("dim"), "f_stat_x100", "rank")
    )


# --- Calinski-Harabasz index of the k-means clustering ----------------------


@register(
    "kmeans_calinski_harabasz",
    oracle=f"""
    , e AS (
        SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
               CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    a0 AS (SELECT vec_id, CAST(vec_id % {_DUCK_KM_K} AS BIGINT) AS cluster
           FROM embeddings),
    {_km_duck_iter("a0", 1)},
    {_km_duck_iter("a1", 2)},
    q AS (
        SELECT a2.cluster, e.dim,
               CAST(floor(e.val * {_Q_VAL} + 0.5) AS BIGINT) AS v
        FROM e JOIN a2 ON a2.vec_id = e.vec_id
    ),
    per AS (
        SELECT cluster, dim, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
        FROM q GROUP BY cluster, dim
    ),
    dimtot AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS big_n,
               CAST(sum(s) AS BIGINT) AS big_s,
               CAST(sum(ss) AS HUGEINT) AS big_ss,
               CAST(sum(CAST(s AS HUGEINT) * s // n) AS HUGEINT) AS sq
        FROM per GROUP BY dim
    ),
    tots AS (
        SELECT CAST(max(k) AS BIGINT) AS k,
               CAST(max(big_n) AS BIGINT) AS n,
               CAST(sum(sq - CAST(big_s AS HUGEINT) * big_s // big_n)
                   AS HUGEINT) AS ssb,
               CAST(sum(big_ss - sq) AS HUGEINT) AS ssw
        FROM dimtot
    )
    SELECT k AS n_clusters, n AS n_vectors,
           CAST(ssb AS BIGINT) AS ssb_fp, CAST(ssw AS BIGINT) AS ssw_fp,
           CAST(ssb * (n - k) * 100 // greatest(ssw * (k - 1), 1)
               AS BIGINT) AS ch_index_x100
    FROM tots
    """,
    doc="Calinski-Harabasz (variance-ratio) index of the "
    "embedding_kmeans_assign clustering: total between-cluster vs "
    "within-cluster dispersion summed over all dimensions, "
    "CH = (SSB/(k-1)) / (SSW/(n-k)) x100 — the global companion to "
    "kmeans_silhouette_by_cluster's per-cluster view, and the "
    "statistic k-sweeps maximize when choosing cluster counts.  "
    "Reuses the assign contract verbatim (same init, quantized "
    "Lloyd iterations, tie-breaks), per-dimension sums stay exact "
    "int128 (the norm_anova formulation per dim, folded over "
    "dims), so the index is bit-identical cross-engine.  "
    "Per-iteration cost matches the assign query; the eval adds "
    "one (cluster, dim) aggregate.",
    tags=("similarity", "evaluation"),
)
def kmeans_calinski_harabasz(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fval")
    ).select(
        "vec_id", "dim", F.col("fval").cast("double").alias("val")
    ).transform(snapshot, eager=True)  # read 2x per Lloyd iteration
    assign = emb.select(
        "vec_id",
        (F.col("vec_id") % km_clusters(n_vec)).cast("long").alias("cluster"),
    )
    w = W.partitionBy("vec_id").orderBy("dist_fp", "cluster")
    for _ in range(KM_ITERS):
        cent = (
            e.join(assign, "vec_id")
            .groupBy("cluster", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("val") * _Q_VAL + F.lit(0.5)).cast("long")
                ).alias("sq"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cluster",
                "dim",
                (
                    F.col("sq").cast("double")
                    / F.col("n").cast("double")
                    / F.lit(_Q_VAL)
                ).alias("c"),
            )
        )
        diff = F.col("val") - F.col("c")
        d = (
            e.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cluster")
            .agg(
                F.sum(
                    F.floor(diff * diff * _Q_DIST).cast("long")
                ).alias("dist_fp")
            )
        )
        assign = (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster", "dist_fp")
        )
    q = (
        e.join(assign.select("vec_id", "cluster"), "vec_id")
        .select(
            "cluster",
            "dim",
            F.floor(F.col("val") * _Q_VAL + F.lit(0.5))
            .cast("long")
            .alias("v"),
        )
    )
    per = q.groupBy("cluster", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v")).alias("ss"),
    )
    dimtot = per.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("big_n"),
        F.sum("s").cast("long").alias("big_s"),
        F.sum("ss").alias("big_ss"),
        F.sum(F.expr("CAST(s AS DECIMAL(38,0)) * s div n")).alias("sq"),
    )
    tots = dimtot.agg(
        F.max("k").cast("long").alias("k"),
        F.max("big_n").cast("long").alias("n"),
        F.sum(
            F.expr(
                "CAST(sq - CAST(big_s AS DECIMAL(38,0)) * big_s div big_n"
                " AS DECIMAL(38,0))"
            )
        ).alias("ssb"),
        F.sum(F.expr("big_ss - sq")).alias("ssw"),
    )
    return tots.select(
        F.col("k").alias("n_clusters"),
        F.col("n").alias("n_vectors"),
        F.expr("CAST(ssb AS BIGINT)").alias("ssb_fp"),
        F.expr("CAST(ssw AS BIGINT)").alias("ssw_fp"),
        F.expr(
            "CAST(ssb * (n - k) * 100"
            " div greatest(ssw * (k - 1), CAST(1 AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("ch_index_x100"),
    )


# --- dimension-truncation (Matryoshka) rank fidelity ------------------------

_TRUNC_DIMS = 32

_DUCK_COS_TR = (
    f"list_inner_product(list_slice(q.e, 1, {_TRUNC_DIMS}),"
    f" list_slice(c.e, 1, {_TRUNC_DIMS})) / "
    f"(sqrt(list_inner_product(list_slice(q.e, 1, {_TRUNC_DIMS}),"
    f" list_slice(q.e, 1, {_TRUNC_DIMS})))"
    f" * sqrt(list_inner_product(list_slice(c.e, 1, {_TRUNC_DIMS}),"
    f" list_slice(c.e, 1, {_TRUNC_DIMS}))))"
)


@register(
    "dim_truncation_rank_overlap",
    oracle=f"""
    , emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    fullk AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
                   ) AS rn
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rn <= {TOP_K}
    ),
    trunck AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_COS_TR}, 6) DESC, c.vec_id
                   ) AS rn
            FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        ) WHERE rn <= {TOP_K}
    ),
    ov AS (
        SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_common
        FROM fullk a JOIN trunck b
          ON b.query_id = a.query_id AND b.vec_id = a.vec_id
        GROUP BY a.query_id
    ),
    per AS (
        SELECT f.query_id, coalesce(o.n_common, 0) AS n_common
        FROM (SELECT DISTINCT query_id FROM fullk) f
        LEFT JOIN ov o ON o.query_id = f.query_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(n_common) AS BIGINT) AS total_common,
           CAST(sum(n_common) * 1000000 // (count(*) * {TOP_K}) AS BIGINT)
               AS recall_ppm,
           CAST(min(n_common) AS BIGINT) AS worst_overlap
    FROM per
    """,
    doc="Matryoshka-truncation fidelity: top-{TOP_K} cosine neighbors "
    "from only the first {_TRUNC_DIMS} of 64 dimensions, scored as "
    "recall against the full-dimension ranking per sampled probe — "
    "the 2x-cheaper-index question (MRL-style nested embeddings) "
    "answered empirically: high recall licenses serving the "
    "truncated vectors, low recall says this encoder's information "
    "is not front-loaded.  Both rankings share the broadcast-anchor "
    "join and the round(.,6)/vec_id rank contract; the truncated "
    "side simply slices the array before the same dot products.",
    tags=("similarity", "eval"),
)
def dim_truncation_rank_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    joined = emb.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )

    def cos_cols(qe, ce):
        return _dot(qe, ce) / (F.sqrt(_dot(qe, qe)) * F.sqrt(_dot(ce, ce)))

    def topk(score):
        w = W.partitionBy("query_id").orderBy(
            F.desc(F.round(score, 6)), F.asc("vec_id")
        )
        return (
            joined.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "vec_id")
        )

    full = topk(cos_cols(F.col("qe"), F.col("e"))).transform(snapshot, 
        eager=False
    )
    tr = topk(
        cos_cols(
            F.slice(F.col("qe"), 1, _TRUNC_DIMS),
            F.slice(F.col("e"), 1, _TRUNC_DIMS),
        )
    )
    ov = (
        full.alias("a")
        .join(
            tr.alias("b"),
            F.expr("b.query_id = a.query_id AND b.vec_id = a.vec_id"),
        )
        .groupBy("a.query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    per = (
        full.select("query_id")
        .distinct()
        .join(ov, "query_id", "left")
        .select(F.coalesce("n_common", F.lit(0)).alias("n_common"))
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum("n_common").cast("long").alias("total_common"),
        F.expr(
            f"CAST(sum(n_common) * 1000000 DIV (count(*) * {TOP_K})"
            " AS BIGINT)"
        ).alias("recall_ppm"),
        F.min("n_common").cast("long").alias("worst_overlap"),
    )


# --- most-confusable label pairs by centroid distance -----------------------

_CONFUSABLE_TOPK = 5


@register(
    "label_confusable_pairs",
    oracle=f"""
    , e AS (
        SELECT m.label, CAST(i - 1 AS INTEGER) AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * {_Q_VAL} + 0.5)
                   AS BIGINT) AS q
        FROM embeddings m, unnest(generate_series(1, len(embedding)))
             AS t(i)
    ),
    cent AS MATERIALIZED (
        SELECT label, dim,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM e GROUP BY label, dim
    ),
    pd AS (
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(sum(CAST(floor(
                   (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                    - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
                   * (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                      - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
                   / {_Q_VAL}) AS BIGINT)) AS BIGINT) AS dist_fp
        FROM cent a
        JOIN cent b ON b.dim = a.dim AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b, dist_fp,
           CAST(row_number() OVER (ORDER BY dist_fp, label_a, label_b)
               AS BIGINT) AS rank
    FROM pd ORDER BY dist_fp, label_a, label_b LIMIT {_CONFUSABLE_TOPK}
    """,
    doc="Most-confusable label pairs: squared L2 distance between "
    "label centroids (quantized integer sums; per-dimension "
    "contributions floor-quantized before folding, so the ranking "
    "is bit-stable), smallest-first — the pairs a classifier built "
    "on these embeddings will mix up, and the merge candidates a "
    "taxonomy review considers (pairwise complement to "
    "label_cosine_separation's one-vs-rest view).  Centroids are a "
    "(label, dim) aggregate; the pair join runs over K*d rows — "
    "dimension-scale everywhere after one corpus pass.",
    tags=("similarity", "eval"),
)
def label_confusable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    e = emb.select(
        "label", F.posexplode("embedding").alias("dim", "fval")
    ).select(
        "label",
        "dim",
        F.floor(F.col("fval").cast("double") * _Q_VAL + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    cent = e.groupBy("label", "dim").agg(
        F.sum("q").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).transform(snapshot, eager=False)
    diff = (
        "(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)"
        " - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))"
    )
    pd = (
        cent.alias("a")
        .join(
            cent.alias("b"),
            F.expr("b.dim = a.dim AND a.label < b.label"),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum(
                F.expr(
                    f"CAST(floor({diff} * {diff} / {_Q_VAL}) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("dist_fp")
        )
    )
    w = W.orderBy("dist_fp", "label_a", "label_b")
    return (
        pd.withColumn("rank", F.row_number().over(w).cast("long"))
        .orderBy("dist_fp", "label_a", "label_b")
        .limit(_CONFUSABLE_TOPK)
        .select(
            F.col("label_a").cast("long").alias("label_a"),
            F.col("label_b").cast("long").alias("label_b"),
            "dist_fp",
            "rank",
        )
    )


# --- Johnson-Lindenstrauss norm-preservation audit ---------------------------

_RP_K = 8  # projected dimensions


def _rp_sign(j: int, i: int) -> int:
    """Deterministic Rademacher entry for the JL audit projection —
    independent of the LSH planes (different key prefix)."""
    nibble = int(hashlib.md5(f"rp/{j}|{i}".encode()).hexdigest()[0], 16)
    return 1 if nibble % 2 == 1 else -1


# one '+'/'-' char per source dim, one string per projected dim — embedded
# as identical literals in both engines (LIBM/CONSTANTS rule)
_RP_SIGNS = [
    "".join("+" if _rp_sign(j, i) == 1 else "-" for i in range(DIM))
    for j in range(_RP_K)
]


@register(
    "random_projection_distortion",
    oracle=f"""
    , q AS (
        SELECT vec_id, i - 1 AS i,
               CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS qx
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ),
    sgn AS (
        SELECT unnest([{", ".join(repr(s) for s in _RP_SIGNS)}]) AS sg,
               generate_subscripts(
                   [{", ".join(repr(s) for s in _RP_SIGNS)}], 1) AS j
    ),
    y AS (
        SELECT q.vec_id, s.j,
               sum(CASE WHEN substring(s.sg, q.i + 1, 1) = '+'
                        THEN q.qx ELSE -q.qx END) AS yj
        FROM q CROSS JOIN sgn s
        GROUP BY q.vec_id, s.j
    ),
    pv AS (
        SELECT y.vec_id,
               CAST((CAST(sum(y.yj * y.yj) AS HUGEINT) * 10000)
                    // ({_RP_K} * max(n.norm2)) AS BIGINT) AS ratio_e4
        FROM y JOIN (SELECT vec_id, sum(qx * qx) AS norm2
                     FROM q GROUP BY vec_id) n USING (vec_id)
        GROUP BY y.vec_id
    )
    SELECT ratio_e4 // 2500 AS bucket,
           CAST(min(ratio_e4) AS BIGINT) AS min_ratio_e4,
           CAST(max(ratio_e4) AS BIGINT) AS max_ratio_e4,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(ratio_e4) // count(*) AS BIGINT) AS mean_ratio_e4
    FROM pv GROUP BY 1
    """,
    doc="Johnson-Lindenstrauss distortion audit: project every embedding "
    "to 8 dims with a deterministic Rademacher ±1 matrix and histogram "
    "the norm-preservation ratio ||y||²/(k·||x||²) — JL says the mass "
    "concentrates near 1.0, and this measures how hard that holds at "
    "k=8, i.e. whether cheap sketched distances are safe for the "
    "dedup/ANN pipeline.  Coordinates are quantized to exact 1e6 "
    "integers BEFORE summing (float-sum order is engine-dependent; "
    "integer sums are not), the sign matrix is a Python-precomputed "
    "literal on both sides, and the ratio is HUGEINT/DECIMAL "
    "fixed-point.  Long-format posexplode + two hash aggs — never an "
    "interpreted higher-order lambda; shuffles (vec, dim)-shaped rows "
    "only.",
    tags=("similarity", "sketch"),
)
def random_projection_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    q = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("i", "x"),
    ).select(
        "vec_id",
        "i",
        F.round(F.col("x").cast("double") * 1000000, 0)
        .cast("long")
        .alias("qx"),
    )
    sgn = spark.createDataFrame(
        [(j + 1, s) for j, s in enumerate(_RP_SIGNS)], "j INT, sg STRING"
    )
    y = (
        q.crossJoin(F.broadcast(sgn))
        .select(
            "vec_id",
            "j",
            F.when(
                F.expr("substring(sg, i + 1, 1) = '+'"), F.col("qx")
            ).otherwise(-F.col("qx")).alias("contrib"),
        )
        .groupBy("vec_id", "j")
        .agg(F.sum("contrib").alias("yj"))
    )
    norm = q.groupBy("vec_id").agg(
        F.sum(F.col("qx") * F.col("qx")).alias("norm2")
    )
    pv = (
        y.join(norm, "vec_id")
        .groupBy("vec_id")
        .agg(
            F.expr(
                "CAST((CAST(sum(yj * yj) AS DECIMAL(38,0)) * 10000)"
                f" DIV ({_RP_K} * max(norm2)) AS BIGINT)"
            ).alias("ratio_e4")
        )
    )
    return pv.groupBy(
        F.expr("ratio_e4 DIV 2500").alias("bucket")
    ).agg(
        F.min("ratio_e4").cast("long").alias("min_ratio_e4"),
        F.max("ratio_e4").cast("long").alias("max_ratio_e4"),
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.expr("CAST(sum(ratio_e4) DIV count(*) AS BIGINT)").alias(
            "mean_ratio_e4"
        ),
    )


# --- symmetric quantization error sweep (2/4/8 bits) --------------------------


@register(
    "quantization_bits_error_sweep",
    oracle="""
    , q AS (
        SELECT vec_id,
               CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS qx
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
    ),
    sc AS (
        SELECT vec_id, max(abs(qx)) AS scale, sum(qx * qx) AS norm2
        FROM q GROUP BY vec_id
    ),
    lv AS (SELECT unnest([2, 4, 8]) AS bits,
                  unnest([1, 7, 127]) AS lev),
    enc AS (
        SELECT l.bits, q.vec_id,
               q.qx * l.lev
               - (CASE WHEN q.qx >= 0
                       THEN (2 * q.qx * l.lev + s.scale)
                            // (2 * s.scale)
                       ELSE -((-2 * q.qx * l.lev + s.scale)
                              // (2 * s.scale)) END) * s.scale AS err,
               l.lev, s.norm2
        FROM q JOIN sc s USING (vec_id) CROSS JOIN lv l
        WHERE s.scale > 0
    ),
    pv AS (
        SELECT bits, vec_id,
               CAST((CAST(sum(err * err) AS HUGEINT) * 1000000)
                    // (CAST(max(lev) AS HUGEINT) * max(lev)
                        * max(norm2)) AS BIGINT) AS err_ppm
        FROM enc GROUP BY bits, vec_id
    )
    SELECT bits,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(err_ppm) // count(*) AS BIGINT) AS mean_err_ppm,
           CAST(max(err_ppm) AS BIGINT) AS max_err_ppm
    FROM pv GROUP BY bits
    """,
    doc="How many bits does the ANN index actually need?  Per-vector "
    "symmetric (max-abs) quantization at 2/4/8 bits and the relative "
    "reconstruction error ||x-x̂||²/||x||² it costs — the memory/"
    "recall dial for embedding storage (int8_quantization_error's "
    "fixed-width cousin, now a sweep).  Everything stays integral: "
    "coordinates quantize to exact 1e6 ints, the rounding in the "
    "encoder is the explicit symmetric half-away-from-zero form "
    "(2qL+s) DIV 2s — pure-integer DIV truncates toward zero "
    "identically on both engines — and the error is exact up to the "
    "final HUGEINT/DECIMAL fixed-point division.  Long-format "
    "explode, two hash aggs, a 3x literal fan-out; no floats cross "
    "an engine boundary.",
    tags=("similarity", "quantization"),
)
def quantization_bits_error_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    q = emb.select(
        "vec_id",
        F.explode("embedding").alias("x"),
    ).select(
        "vec_id",
        F.round(F.col("x").cast("double") * 1000000, 0)
        .cast("long")
        .alias("qx"),
    )
    sc = q.groupBy("vec_id").agg(
        F.max(F.abs("qx")).alias("scale"),
        F.sum(F.col("qx") * F.col("qx")).alias("norm2"),
    )
    lv = spark.createDataFrame(
        [(2, 1), (4, 7), (8, 127)], "bits INT, lev INT"
    )
    enc = (
        q.join(sc, "vec_id")
        .filter(F.col("scale") > 0)
        .crossJoin(F.broadcast(lv))
        .select(
            "bits",
            "vec_id",
            "lev",
            "norm2",
            F.expr(
                "qx * lev"
                " - (CASE WHEN qx >= 0"
                "         THEN (2 * qx * lev + scale) DIV (2 * scale)"
                "         ELSE -((-2 * qx * lev + scale)"
                "                DIV (2 * scale)) END) * scale"
            ).alias("err"),
        )
    )
    pv = enc.groupBy("bits", "vec_id").agg(
        F.expr(
            "CAST((CAST(sum(err * err) AS DECIMAL(38,0)) * 1000000)"
            " DIV (CAST(max(lev) AS DECIMAL(38,0)) * max(lev)"
            "      * max(norm2)) AS BIGINT)"
        ).alias("err_ppm")
    )
    return pv.groupBy("bits").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.expr("CAST(sum(err_ppm) DIV count(*) AS BIGINT)").alias(
            "mean_err_ppm"
        ),
        F.max("err_ppm").cast("long").alias("max_err_ppm"),
    )


# --- PQ codebook utilization ---------------------------------------------------


@register(
    "pq_code_utilization",
    oracle=_DUCK_PQ
    + """
    , cc AS (
        SELECT sub, code, count(*) AS c FROM codes GROUP BY sub, code
    ),
    s AS (
        SELECT sub,
               sum(c) AS n,
               count(*) AS used,
               sum(c * (c - 1)) AS coll,
               max(c) AS top_c
        FROM cc GROUP BY sub
    )
    SELECT sub,
           CAST(n AS BIGINT) AS n_vecs,
           CAST(used AS BIGINT) AS n_codes_used,
           CAST((10000 * n * (n - 1)) // greatest(coll, 1) AS BIGINT)
               AS inv_simpson_e4,
           CAST((1000000 * top_c) // n AS BIGINT) AS top_code_share_ppm
    FROM s
    """,
    doc="Is the PQ codebook earning its bits?  Per subspace: how many "
    "of the 16 centroids are actually used, the inverse-Simpson "
    "'effective number of codes' (≈16 means balanced cells and the "
    "full 4 bits of discrimination; ≈2 means the subspace wastes "
    "bits and ADC distances blur), and the heaviest cell's share.  "
    "The codebook-health audit that decides PQ_SUBS/PQ_K before "
    "shipping an index — pure integer collision arithmetic on the "
    "code histogram, 8×16 rows after one agg over the assignment "
    "output.",
    tags=("similarity", "quantization"),
)
def pq_code_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = REGISTRY.specs()["pq_code_assign"].fn(spark, sf_dir)
    cc = codes.groupBy("sub", "code").agg(F.count(F.lit(1)).alias("c"))
    s = cc.groupBy("sub").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("used"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("coll"),
        F.max("c").alias("top_c"),
    )
    return s.select(
        "sub",
        F.col("n").cast("long").alias("n_vecs"),
        F.col("used").cast("long").alias("n_codes_used"),
        F.expr(
            "CAST((10000 * n * (n - 1)) DIV greatest(coll, 1) AS BIGINT)"
        ).alias("inv_simpson_e4"),
        F.expr("CAST((1000000 * top_c) DIV n AS BIGINT)").alias(
            "top_code_share_ppm"
        ),
    )


# --- neighborhood density vs cosine radius --------------------------------------


@register(
    "cosine_radius_density",
    oracle=f"""
    , ql AS (
        SELECT vec_id, i - 1 AS i,
               CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS qx
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ),
    nrm AS (SELECT vec_id, sum(qx * qx) AS n2 FROM ql GROUP BY vec_id),
    dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               sum(a.qx * b.qx) AS dot
        FROM ql a JOIN ql b ON b.i = a.i AND b.vec_id <> a.vec_id
        WHERE a.vec_id % {QUERY_MOD} = 0
        GROUP BY a.vec_id, b.vec_id
    ),
    lv AS (SELECT unnest([50, 70, 90]) AS tau_pct,
                  unnest([2500, 4900, 8100]) AS tau2_e4),
    flags AS (
        SELECT l.tau_pct, d.qid,
               CASE WHEN d.dot > 0
                         AND CAST(d.dot AS HUGEINT) * d.dot * 10000
                             > CAST(l.tau2_e4 AS HUGEINT)
                               * nq.n2 * nc.n2
                    THEN 1 ELSE 0 END AS within
        FROM dots d
        JOIN nrm nq ON nq.vec_id = d.qid
        JOIN nrm nc ON nc.vec_id = d.cid
        CROSS JOIN lv l
    ),
    per_q AS (
        SELECT tau_pct, qid, sum(within) AS cnt
        FROM flags GROUP BY tau_pct, qid
    )
    SELECT tau_pct,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST((10000 * sum(cnt)) // count(*) AS BIGINT)
               AS mean_neighbors_e4,
           CAST(max(cnt) AS BIGINT) AS max_neighbors,
           CAST((1000000 * sum(CASE WHEN cnt = 0 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS isolated_ppm
    FROM per_q GROUP BY tau_pct
    """,
    doc="How hard is this corpus for ANN?  For the standard query "
    "sample (vec_id % 50), the number of corpus vectors within cosine "
    "0.5 / 0.7 / 0.9 — dense neighborhoods mean LSH/IVF recall comes "
    "cheap, high isolated_ppm at 0.7+ means top-k results are "
    "far-away noise and the index needs wider probes.  The threshold "
    "test is EXACT integer arithmetic: cos>τ ⟺ dot>0 ∧ "
    "dot²·10⁴ > τ²ₑ₄·‖q‖²·‖c‖² on 1e6-quantized coordinates "
    "(HUGEINT/DECIMAL38) — no float compare at the boundary, which a "
    "rounded-double threshold could flip per engine.  Long-format "
    "dot products shuffle (query, dim) rows; the query side is "
    "2 % of the corpus.",
    tags=("similarity",),
)
def cosine_radius_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    ql = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select(
        "vec_id",
        "i",
        F.round(F.col("x").cast("double") * 1000000, 0)
        .cast("long")
        .alias("qx"),
    )
    nrm = ql.groupBy("vec_id").agg(
        F.sum(F.col("qx") * F.col("qx")).alias("n2")
    )
    a = ql.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), "i", F.col("qx").alias("qa")
    )
    b = ql.select(
        F.col("vec_id").alias("cid"), F.col("i").alias("ib"),
        F.col("qx").alias("qb"),
    )
    dots = (
        a.join(b, (F.col("i") == F.col("ib"))
               & (F.col("qid") != F.col("cid")))
        .groupBy("qid", "cid")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("dot"))
    )
    lv = spark.createDataFrame(
        [(50, 2500), (70, 4900), (90, 8100)],
        "tau_pct INT, tau2_e4 INT",
    )
    nq = nrm.select(F.col("vec_id").alias("qid"),
                    F.col("n2").alias("nq2"))
    nc = nrm.select(F.col("vec_id").alias("cid"),
                    F.col("n2").alias("nc2"))
    flags = (
        dots.join(F.broadcast(nq), "qid")
        .join(F.broadcast(nc), "cid")
        .crossJoin(F.broadcast(lv))
        .select(
            "tau_pct",
            "qid",
            F.expr(
                "CASE WHEN dot > 0"
                " AND CAST(dot AS DECIMAL(38,0)) * dot * 10000"
                "     > CAST(tau2_e4 AS DECIMAL(38,0)) * nq2 * nc2"
                " THEN 1 ELSE 0 END"
            ).alias("within"),
        )
    )
    per_q = flags.groupBy("tau_pct", "qid").agg(
        F.sum("within").alias("cnt")
    )
    return per_q.groupBy("tau_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.expr(
            "CAST((10000 * sum(cnt)) DIV count(*) AS BIGINT)"
        ).alias("mean_neighbors_e4"),
        F.max("cnt").cast("long").alias("max_neighbors"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN cnt = 0 THEN 1 ELSE 0 END))"
            " DIV count(*) AS BIGINT)"
        ).alias("isolated_ppm"),
    )


# --- participation ratio of per-dimension variance ---------------------------------


@register(
    "embedding_participation_ratio",
    oracle="""
    , q AS (
        SELECT i,
               CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS qx
        FROM (SELECT unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ),
    v AS (
        SELECT i,
               count(*) AS n,
               sum(qx) AS s,
               sum(CAST(qx AS HUGEINT) * qx) AS ss
        FROM q GROUP BY i
    ),
    vd AS (
        SELECT i, (n * ss - CAST(s AS HUGEINT) * s) // (n * n) AS var_q
        FROM v
    ),
    agg AS (
        SELECT count(*) AS d,
               sum(var_q) AS sv,
               sum(var_q * var_q) AS svv,
               max(var_q) AS top_v
        FROM vd
    )
    SELECT CAST(d AS BIGINT) AS n_dims,
           CAST((10000 * sv * sv) // svv AS BIGINT)
               AS participation_ratio_e4,
           CAST((1000000 * top_v) // sv AS BIGINT)
               AS top_dim_var_share_ppm
    FROM agg
    """,
    doc="Dimension collapse in one number: the participation ratio "
    "(Σv)²/Σv² of per-dimension variances — 64e4 means every axis "
    "carries equal signal, a small value means the embedding space "
    "has collapsed onto a few axes and ANN distance is mostly noise "
    "in the rest (the axis-aligned cousin of top_pc_variance_share, "
    "cheap enough to run per batch as an embedding-drift alarm).  "
    "Variances from exact integer sufficient statistics on "
    "1e6-quantized coordinates (population variance, floor "
    "division); squares in HUGEINT/DECIMAL(38).  One long-format "
    "agg keyed by dimension — 64 groups, perfectly partial-agg'd.",
    tags=("similarity", "stats"),
)
def embedding_participation_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    q = emb.select(F.posexplode("embedding").alias("i", "x")).select(
        "i",
        F.round(F.col("x").cast("double") * 1000000, 0)
        .cast("long")
        .alias("qx"),
    )
    v = q.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qx").alias("s"),
        F.sum(F.col("qx").cast("decimal(38,0)") * F.col("qx")).alias(
            "ss"
        ),
    )
    vd = v.select(
        F.expr(
            "CAST((n * ss - CAST(s AS DECIMAL(38,0)) * s)"
            " DIV (n * n) AS DECIMAL(38,0))"
        ).alias("var_q")
    )
    agg = vd.agg(
        F.count(F.lit(1)).alias("d"),
        F.sum("var_q").alias("sv"),
        F.sum(F.col("var_q") * F.col("var_q")).alias("svv"),
        F.max("var_q").alias("top_v"),
    )
    return agg.select(
        F.col("d").cast("long").alias("n_dims"),
        F.expr(
            "CAST((10000 * CAST(sv AS DECIMAL(38,0)) * sv) DIV svv"
            " AS BIGINT)"
        ).alias("participation_ratio_e4"),
        F.expr(
            "CAST((1000000 * CAST(top_v AS DECIMAL(38,0))) DIV sv"
            " AS BIGINT)"
        ).alias("top_dim_var_share_ppm"),
    )


# --- index memory budget ------------------------------------------------------------


@register(
    "index_memory_budget",
    oracle=f"""
    , ne AS (SELECT count(*) AS n FROM embeddings),
    nd AS (SELECT count(*) AS n FROM documents),
    st AS (
        SELECT unnest(['raw_f32', 'int8', 'pq4bit', 'sign_lsh',
                       'minhash128']) AS structure,
               unnest([{DIM} * 4, {DIM} + 4, {DIM} // 16 + 4,
                       4, 128]) AS unit_bytes,
               unnest([0, 0, 4096, 0, 0]) AS fixed_bytes,
               unnest([1, 1, 1, 1, 0]) AS on_embeddings
    )
    SELECT s.structure,
           CAST(s.unit_bytes AS BIGINT) AS unit_bytes,
           CAST(CASE WHEN s.on_embeddings = 1 THEN ne.n
                     ELSE nd.n END AS BIGINT) AS n_items,
           CAST(s.unit_bytes * CASE WHEN s.on_embeddings = 1
                                    THEN ne.n ELSE nd.n END
                + s.fixed_bytes AS BIGINT) AS total_bytes,
           CAST((1000000 * (s.unit_bytes
                            * CASE WHEN s.on_embeddings = 1
                                   THEN ne.n ELSE nd.n END
                            + s.fixed_bytes))
                // ({DIM} * 4 * CASE WHEN s.on_embeddings = 1
                                     THEN ne.n ELSE nd.n END)
               AS BIGINT) AS vs_raw_ppm
    FROM st s CROSS JOIN ne CROSS JOIN nd
    """,
    doc="What does each ANN/dedup structure cost in RAM at this "
    "corpus size?  Bytes-per-item and totals for the five structures "
    "the engine builds — raw float32 vectors, int8-quantized "
    "(embedding_quantize_int8: 64 codes + scale), 4-bit PQ codes "
    "(pq_code_assign: 8 subspaces → 4 B + shared 4 KB codebook), "
    "32-bit sign-LSH sketches (ann_lsh_topk), and 16×u64 MinHash "
    "signatures over documents — with the compression ratio against "
    "raw.  The capacity-planning table that decides which index "
    "tier fits executor memory at 100 TB; pure arithmetic over two "
    "counts, no data movement at all.",
    tags=("similarity", "ops"),
)
def index_memory_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    ne = load_table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("ne")
    )
    nd = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("nd")
    )
    st = spark.createDataFrame(
        [
            ("raw_f32", DIM * 4, 0, 1),
            ("int8", DIM + 4, 0, 1),
            ("pq4bit", DIM // 16 + 4, 4096, 1),
            ("sign_lsh", 4, 0, 1),
            ("minhash128", 128, 0, 0),
        ],
        "structure STRING, unit_bytes INT, fixed_bytes INT,"
        " on_embeddings INT",
    )
    return (
        st.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nd))
        .select(
            "structure",
            F.col("unit_bytes").cast("long").alias("unit_bytes"),
            F.expr(
                "CAST(CASE WHEN on_embeddings = 1 THEN ne ELSE nd END"
                " AS BIGINT)"
            ).alias("n_items"),
            F.expr(
                "CAST(unit_bytes * CASE WHEN on_embeddings = 1"
                " THEN ne ELSE nd END + fixed_bytes AS BIGINT)"
            ).alias("total_bytes"),
            F.expr(
                f"CAST((1000000 * (unit_bytes"
                f" * CASE WHEN on_embeddings = 1 THEN ne ELSE nd END"
                f" + fixed_bytes)) DIV ({DIM} * 4"
                f" * CASE WHEN on_embeddings = 1 THEN ne ELSE nd END)"
                f" AS BIGINT)"
            ).alias("vs_raw_ppm"),
        )
    )


# --- mean-vs-median centroid robustness per label --------------------------------------------


@register(
    "label_centroid_median_shift",
    oracle="""
    , q AS (
        SELECT label, i - 1 AS i,
               CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)
                   AS qx,
               vec_id
        FROM (SELECT vec_id, label, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ),
    mean_c AS (
        SELECT label, i, sum(qx) // count(*) AS mq
        FROM q GROUP BY label, i
    ),
    med_c AS (
        SELECT label, i,
               max(CASE WHEN rn = (n + 1) // 2 THEN qx END) AS dq
        FROM (
            SELECT label, i, qx,
                   row_number() OVER (PARTITION BY label, i
                                      ORDER BY qx, vec_id) AS rn,
                   count(*) OVER (PARTITION BY label, i) AS n
            FROM q
        ) GROUP BY label, i
    )
    SELECT m.label,
           CAST(count(*) AS BIGINT) AS n_dims,
           CAST(sum(CAST(m.mq - d.dq AS HUGEINT) * (m.mq - d.dq))
               AS BIGINT) AS shift_sq,
           CAST(sum(CAST(d.dq AS HUGEINT) * d.dq) AS BIGINT)
               AS median_norm_sq,
           CAST((1000000 * sum(CAST(m.mq - d.dq AS HUGEINT)
                               * (m.mq - d.dq)))
                // greatest(sum(CAST(d.dq AS HUGEINT) * d.dq), 1)
               AS BIGINT) AS shift_ratio_ppm
    FROM mean_c m JOIN med_c d USING (label, i)
    GROUP BY m.label
    """,
    doc="Centroid robustness per label: squared distance between the "
    "mean centroid (what label_centroids / kmeans use) and the "
    "coordinate-wise median centroid, relative to the median's "
    "norm — a large shift means a few outlier vectors are dragging "
    "the mean and every centroid-based consumer (classification "
    "margins, kmeans seeds, drift alarms) inherits that bias.  "
    "Means are exact integer floor-divisions; medians are "
    "nearest-rank with (value, vec_id) total order per (label, "
    "dim); the shift is exact HUGEINT/DECIMAL arithmetic.  "
    "Long-format explode, (label, dim)-keyed windows — 640 groups.",
    tags=("similarity", "stats"),
)
def label_centroid_median_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    q = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "x")
    ).select(
        "label",
        "i",
        F.round(F.col("x").cast("double") * 1000000, 0)
        .cast("long")
        .alias("qx"),
        "vec_id",
    )
    mean_c = q.groupBy("label", "i").agg(
        F.expr("sum(qx) DIV count(*)").alias("mq")
    )
    wr = W.partitionBy("label", "i").orderBy("qx", "vec_id")
    wn = W.partitionBy("label", "i")
    med_c = (
        q.select(
            "label",
            "i",
            "qx",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .groupBy("label", "i")
        .agg(
            F.max(
                F.when(F.expr("rn = (n + 1) DIV 2"), F.col("qx"))
            ).alias("dq")
        )
    )
    j = mean_c.join(med_c, ["label", "i"])
    return j.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.sum(
            (F.col("mq") - F.col("dq")).cast("decimal(38,0)")
            * (F.col("mq") - F.col("dq"))
        ).cast("long").alias("shift_sq"),
        F.sum(
            F.col("dq").cast("decimal(38,0)") * F.col("dq")
        ).cast("long").alias("median_norm_sq"),
        F.expr(
            "CAST((1000000 * sum(CAST(mq - dq AS DECIMAL(38,0))"
            " * (mq - dq)))"
            " DIV greatest(sum(CAST(dq AS DECIMAL(38,0)) * dq), 1)"
            " AS BIGINT)"
        ).alias("shift_ratio_ppm"),
    )


# --- label separability R^2 over the full embedding space --------------------------------------


@register(
    "label_separability_r2",
    oracle="""
    , q AS (
        SELECT label, i,
               CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)
                   AS qx
        FROM (SELECT label, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ),
    per_lab AS (
        SELECT label, i, count(*) AS n, sum(qx) AS s,
               sum(CAST(qx AS HUGEINT) * qx) AS ss
        FROM q GROUP BY label, i
    ),
    per_dim AS (
        SELECT i,
               sum(n) AS n,
               sum(s) AS s,
               sum(ss) AS ss,
               sum((CAST(s AS HUGEINT) * s * 10000) // n) AS sb_e4
        FROM per_lab GROUP BY i
    ),
    tot AS (
        SELECT sum(ss) AS ss_all,
               sum((CAST(s AS HUGEINT) * s * 10000) // n) AS sgm_e4,
               sum(sb_e4) AS sb_e4
        FROM per_dim
    )
    SELECT CAST((1000000 * (sb_e4 - sgm_e4))
                // (10000 * ss_all - sgm_e4) AS BIGINT)
               AS r2_ppm,
           CAST(ss_all AS BIGINT) AS total_sq_e0,
           CAST(sb_e4 // 10000 AS BIGINT) AS between_sq
    FROM tot
    """,
    doc="How much of the embedding space's variance do the labels "
    "explain?  One-way ANOVA R² pooled over all 64 dimensions: "
    "R² = (SSB − SSG)/(SST − SSG) with SSB = ΣᵢΣ_lab Sᵢ,lab²/nᵢ,lab "
    "and SSG the grand-mean term, all in exact e4 fixed-point "
    "HUGEINT/DECIMAL integer divisions — near-zero means labels "
    "don't structure the space and the per-label queries "
    "(label_centroids, label_cosine_separation) are reading noise; "
    "this is the one-number screen to run first.  Long-format "
    "explode, (label, dim) then dim aggregates — fully "
    "map-combinable, no window.",
    tags=("similarity", "stats"),
)
def label_separability_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").transform(fan_out, spark, "vec_id")
    q = emb.select(
        "label", F.posexplode("embedding").alias("i", "x")
    ).select(
        "label",
        "i",
        F.round(F.col("x").cast("double") * 1000000, 0)
        .cast("long")
        .alias("qx"),
    )
    per_lab = q.groupBy("label", "i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qx").alias("s"),
        F.sum(F.col("qx").cast("decimal(38,0)") * F.col("qx")).alias(
            "ss"
        ),
    )
    per_dim = per_lab.groupBy("i").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.sum(
            F.expr(
                "(CAST(s AS DECIMAL(38,0)) * s * 10000) DIV n"
            ).cast("decimal(38,0)")
        ).alias("sb_e4"),
    )
    tot = per_dim.agg(
        F.sum("ss").alias("ss_all"),
        F.sum(
            F.expr(
                "(CAST(s AS DECIMAL(38,0)) * s * 10000) DIV n"
            ).cast("decimal(38,0)")
        ).alias("sgm_e4"),
        F.sum("sb_e4").alias("sb_e4"),
    )
    return tot.select(
        F.expr(
            "CAST((1000000 * (sb_e4 - sgm_e4))"
            " DIV (10000 * ss_all - sgm_e4) AS BIGINT)"
        ).alias("r2_ppm"),
        F.col("ss_all").cast("long").alias("total_sq_e0"),
        F.expr("CAST(sb_e4 DIV 10000 AS BIGINT)").alias("between_sq"),
    )
