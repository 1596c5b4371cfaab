"""Corpus-assembly operators: mixture resampling, training order, packing.

The last mile of a training-data pipeline (after dedup/quality/decontam):
decide HOW MUCH of each source to keep (mixture reweighting), WHAT ORDER
examples stream in (deterministic shuffle), and HOW documents pack into
fixed-length sequences (concat-and-chunk packing).  The reference has no
notion of any of this (SURVEY.md §2 C — extensions per §7.1 M5); the
public recipes are the Pile / GPT-3 mixture-weight tables and the
standard concat-then-chunk packing used by most LM training stacks.

Everything is hash-deterministic (md5) and integer-exact — no RNG, no
floats on the compared surface — so results are reproducible across
runs, engines, and partitionings.  All plans are single-shuffle or
shuffle-free; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mqtt2sql_spark.fixtures import load_table
from mqtt2sql_spark.functions.text import STOPWORDS, duck_tokens, tokens
from mqtt2sql_spark.plans.base import register

# --- deterministic mixture resampling --------------------------------------

# Target keep-rates per source, in percent (downsampling only — an
# upsampling stage would replicate rows by ceil(w) then thin, same
# hash-threshold trick).  Unlisted sources keep 100%.
MIX_WEIGHTS_PCT: dict[str, int] = {
    "src0": 10,
    "src5": 25,
    "src10": 50,
    "src15": 75,
}

_HEX16 = "0123456789abcdef"
# DuckDB has no hex→int conv(); reconstruct the first 8 md5 nibbles as a
# 32-bit integer by positional digit lookup (same construction as
# plans/text.py sample_weighted).
_DUCK_MIX_HV8 = " + ".join(
    f"CAST(instr('{_HEX16}', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), "
    f"{i + 1}, 1)) - 1 AS BIGINT) * {16 ** (7 - i)}"
    for i in range(8)
)

_DUCK_W_PCT = (
    "CASE "
    + " ".join(
        f"WHEN source = '{s}' THEN {w}" for s, w in MIX_WEIGHTS_PCT.items()
    )
    + " ELSE 100 END"
)


@register(
    "importance_resample_mix",
    oracle=f"""
    , w AS (
        SELECT doc_id, source, lang,
               CAST({_DUCK_W_PCT} AS BIGINT) AS w_pct,
               {_DUCK_MIX_HV8} AS hv
        FROM documents
    )
    SELECT doc_id, source, lang, w_pct
    FROM w
    WHERE hv * 100 < w_pct * 4294967296
    """,
    doc="Mixture reweighting (Pile/GPT-3-style source weights): keep each "
    "document with probability = its source's target weight, decided by "
    "md5(doc_id) against an integer threshold — cross-multiplied to pure "
    "64-bit integers (hv·100 < w·2^32), so the keep set is bit-identical "
    "on every engine and every partitioning, and re-running the pipeline "
    "yields the same corpus (the property mixture tuning needs).  "
    "Embarrassingly parallel: scan → project → filter, zero shuffles; "
    "the weight table is a literal CASE, not a join.  The hash is salted "
    "('mix:') so this stage's coin flips are independent of the "
    "quality-sampling stage's (plans/text.py sample_weighted).",
)
def importance_resample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w_pct = F.lit(100)
    for s, w in reversed(MIX_WEIGHTS_PCT.items()):
        w_pct = F.when(F.col("source") == s, F.lit(w)).otherwise(w_pct)
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.select(
            "doc_id",
            "source",
            "lang",
            w_pct.cast("long").alias("w_pct"),
            hv.alias("hv"),
        )
        .filter(F.col("hv") * 100 < F.col("w_pct") * F.lit(4294967296))
        .select("doc_id", "source", "lang", "w_pct")
    )


# --- deterministic training order ------------------------------------------

N_SHARDS = 16


@register(
    "training_order_assignment",
    oracle=f"""
    , h AS (
        SELECT doc_id,
               md5('order:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        FROM documents
    )
    SELECT doc_id, shuffle_key,
           CAST(row_number() OVER (ORDER BY shuffle_key, doc_id)
                AS BIGINT) AS position,
           CAST((row_number() OVER (ORDER BY shuffle_key, doc_id) - 1)
                % {N_SHARDS} AS BIGINT) AS shard
    FROM h
    """,
    doc="Deterministic global training order: every document gets a dense "
    "1-based position in md5-shuffled order plus a round-robin shard "
    "assignment — the reproducible 'seeded shuffle' of an epoch, with "
    "striped shards so each worker's stream is an unbiased sample of "
    "the corpus.  The dense numbering is one global row_number in "
    "(shuffle_key, doc_id) order — A7's dense-id rule applied to the "
    "corpus.",
)
def training_order_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit("order:"), F.col("doc_id").cast("string"))
        ).alias("shuffle_key"),
    )
    numbered = keyed.withColumn(
        "position",
        F.row_number().over(W.orderBy("shuffle_key", "doc_id")).cast("long"),
    )
    return numbered.select(
        "doc_id",
        "shuffle_key",
        "position",
        ((F.col("position") - 1) % N_SHARDS).cast("long").alias("shard"),
    )


# --- concat-and-chunk sequence packing -------------------------------------

PACK_MAX_LEN = 256  # tokens per training sequence


@register(
    "pack_sequences_greedy",
    oracle=f"""
    , tk AS (
        SELECT doc_id, source,
               CAST(len({duck_tokens()}) AS BIGINT) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tok,
               sum(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tok AS start_off
        FROM tk
    )
    SELECT doc_id, source, n_tok, CAST(start_off AS BIGINT) AS start_off,
           CAST(start_off // {PACK_MAX_LEN} AS BIGINT) AS seq_first,
           CAST(greatest(start_off + n_tok - 1, start_off)
                // {PACK_MAX_LEN} AS BIGINT) AS seq_last,
           CAST(CASE WHEN start_off // {PACK_MAX_LEN}
                       <> greatest(start_off + n_tok - 1, start_off)
                          // {PACK_MAX_LEN}
                THEN 1 ELSE 0 END AS INTEGER) AS crosses_boundary
    FROM c
    """,
    doc=f"Concat-and-chunk sequence packing (the standard LM pre-training "
    f"layout): documents are concatenated per source in doc_id order and "
    f"cut into {PACK_MAX_LEN}-token sequences; each document reports its "
    "global token offset, first/last sequence index, and whether it "
    "straddles a cut.  One running-sum window per source (high-"
    "cardinality partition key — no global window), everything after it "
    "integer arithmetic.  The offsets are exactly what a pack-writer "
    "needs to emit fixed-length examples without materializing the "
    "concatenation; at 100 TB the window is the only shuffle and "
    "partitions by source, so adding sources scales out, not up.",
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = tk.withColumn("start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
    end_off = F.greatest(
        F.col("start_off") + F.col("n_tok") - 1, F.col("start_off")
    )
    return c.select(
        "doc_id",
        "source",
        "n_tok",
        "start_off",
        F.expr(f"CAST(start_off div {PACK_MAX_LEN} AS BIGINT)").alias(
            "seq_first"
        ),
        F.floor(end_off / PACK_MAX_LEN).cast("long").alias("seq_last"),
        F.when(
            F.expr(f"start_off div {PACK_MAX_LEN}")
            != F.floor(end_off / PACK_MAX_LEN),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("crosses_boundary"),
    )


# --- end-to-end pipeline acceptance funnel ---------------------------------

FUNNEL_MIN_TOKENS = 10
EVAL_SPLIT_PCT = 10  # md5('split:'||doc_id) < 10% of hash space → eval doc

_DUCK_SPLIT_HV8 = " + ".join(
    f"CAST(instr('{_HEX16}', substr(md5('split:' || CAST(doc_id AS VARCHAR)),"
    f" {i + 1}, 1)) - 1 AS BIGINT) * {16 ** (7 - i)}"
    for i in range(8)
)

_DUCK_STOPS = "('the', 'a', 'of', 'and', 'to', 'in', 'is')"


@register(
    "corpus_pipeline_funnel",
    oracle=f"""
    , f AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS digest,
               CAST(len({duck_tokens()}) AS BIGINT) AS n_tok,
               CAST(len(list_filter({duck_tokens()},
                        x -> x IN {_DUCK_STOPS})) AS BIGINT) AS stop_cnt,
               CASE WHEN ({_DUCK_SPLIT_HV8}) * 100
                         < {EVAL_SPLIT_PCT} * 4294967296
                    THEN 1 ELSE 0 END AS is_eval,
               CASE WHEN ({_DUCK_MIX_HV8}) * 100
                         < ({_DUCK_W_PCT}) * 4294967296
                    THEN 1 ELSE 0 END AS mix_keep
        FROM documents
    ),
    s AS (
        SELECT *,
               CASE WHEN n_tok >= {FUNNEL_MIN_TOKENS} THEN 1 ELSE 0 END AS s1,
               CASE WHEN n_tok >= {FUNNEL_MIN_TOKENS} AND stop_cnt >= 1
                    THEN 1 ELSE 0 END AS s2
        FROM f
    ),
    g AS (
        SELECT digest,
               min(CASE WHEN s2 = 1 THEN doc_id END) AS keeper,
               max(is_eval) AS has_eval
        FROM s GROUP BY digest
    ),
    j AS (
        SELECT s.*,
               CASE WHEN s2 = 1 AND doc_id = keeper THEN 1 ELSE 0 END AS s3,
               CASE WHEN s2 = 1 AND doc_id = keeper AND has_eval = 0
                    THEN 1 ELSE 0 END AS s4
        FROM s JOIN g USING (digest)
    ),
    agg AS (
        SELECT count(*) AS n0,
               sum(s1) AS n1, sum(s2) AS n2, sum(s3) AS n3, sum(s4) AS n4,
               sum(CASE WHEN s4 = 1 AND mix_keep = 1 THEN 1 ELSE 0 END) AS n5
        FROM j
    )
    SELECT stage_idx, stage, CAST(n_docs AS BIGINT) AS n_docs FROM (
        SELECT 0 AS stage_idx, 'ingested' AS stage, n0 AS n_docs FROM agg
        UNION ALL SELECT 1, 'min_length', n1 FROM agg
        UNION ALL SELECT 2, 'quality', n2 FROM agg
        UNION ALL SELECT 3, 'exact_dedup', n3 FROM agg
        UNION ALL SELECT 4, 'decontam', n4 FROM agg
        UNION ALL SELECT 5, 'mixture', n5 FROM agg
    )
    """,
    doc="End-to-end pipeline acceptance funnel: how many documents "
    "survive each cumulative stage — ingest → min-length → quality "
    "(stopword evidence) → exact dedup (md5-normalized, keeper chosen "
    "among quality survivors) → decontamination (drop any doc sharing a "
    "digest with a held-out eval doc, eval split itself hash-"
    "deterministic) → mixture resampling.  The whole funnel is ONE "
    "declarative plan: a scan computing per-doc flags, one digest-keyed "
    "aggregate joined back (the only wide shuffle), a single-row "
    "conditional aggregate, and a 6-row unpivot — the per-stage counts "
    "a pipeline dashboard reports, without running five separate jobs "
    "over the corpus.  Every stage predicate is integer/hash-exact, so "
    "the funnel is reproducible to the row at any scale.",
)
def corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mqtt2sql_spark.functions.text import STOPWORDS, normalized_text

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    hv_split = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    hv_mix = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w_pct = F.lit(100)
    for src, w in reversed(MIX_WEIGHTS_PCT.items()):
        w_pct = F.when(F.col("source") == src, F.lit(w)).otherwise(w_pct)
    lit_stops = F.array(*[F.lit(s) for s in STOPWORDS])

    def _in_stops(x):
        return F.array_contains(lit_stops, x)

    f = docs.select(
        "doc_id",
        F.md5(normalized_text("text")).alias("digest"),
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.filter(toks, _in_stops)).cast("long").alias("stop_cnt"),
        F.when(
            hv_split * 100 < F.lit(EVAL_SPLIT_PCT) * F.lit(4294967296),
            1,
        )
        .otherwise(0)
        .alias("is_eval"),
        F.when(hv_mix * 100 < w_pct * F.lit(4294967296), 1)
        .otherwise(0)
        .alias("mix_keep"),
    )
    s = f.withColumn(
        "s1", F.when(F.col("n_tok") >= FUNNEL_MIN_TOKENS, 1).otherwise(0)
    ).withColumn(
        "s2",
        F.when(
            (F.col("n_tok") >= FUNNEL_MIN_TOKENS) & (F.col("stop_cnt") >= 1),
            1,
        ).otherwise(0),
    )
    g = s.groupBy("digest").agg(
        F.min(F.when(F.col("s2") == 1, F.col("doc_id"))).alias("keeper"),
        F.max("is_eval").alias("has_eval"),
    )
    j = (
        s.join(g, "digest")
        .withColumn(
            "s3",
            F.when(
                (F.col("s2") == 1) & (F.col("doc_id") == F.col("keeper")), 1
            ).otherwise(0),
        )
        .withColumn(
            "s4",
            F.when((F.col("s3") == 1) & (F.col("has_eval") == 0), 1).otherwise(
                0
            ),
        )
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("s1").alias("n1"),
        F.sum("s2").alias("n2"),
        F.sum("s3").alias("n3"),
        F.sum("s4").alias("n4"),
        F.sum(
            F.when((F.col("s4") == 1) & (F.col("mix_keep") == 1), 1).otherwise(
                0
            )
        ).alias("n5"),
    )
    stages = ", ".join(
        f"{i}, '{name}', CAST(n{i} AS BIGINT)"
        for i, name in enumerate(
            ("ingested", "min_length", "quality", "exact_dedup", "decontam",
             "mixture")
        )
    )
    return agg.selectExpr(
        f"stack(6, {stages}) AS (stage_idx, stage, n_docs)"
    )


# --- point-in-time-correct feature join ------------------------------------


@register(
    "pit_training_features",
    oracle="""
    , da AS (
        SELECT user_id, datediff('day', DATE '1990-01-01',
                                 CAST(ts AS DATE)) AS dday,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS clicks,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS views
        FROM events GROUP BY 1, 2
    ),
    feat AS (
        SELECT user_id, dday,
               CAST(sum(clicks) OVER w AS BIGINT) AS clicks7,
               CAST(sum(views) OVER w AS BIGINT) AS views7
        FROM da
        WINDOW w AS (PARTITION BY user_id ORDER BY dday
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    labels AS (
        SELECT event_id, user_id,
               datediff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS lday
        FROM events WHERE event_type = 'purchase'
    )
    SELECT l.event_id, l.user_id,
           CAST(l.lday AS BIGINT) AS label_day,
           CAST(f.dday AS BIGINT) AS feature_day,
           coalesce(f.clicks7, 0) AS clicks7,
           coalesce(f.views7, 0) AS views7,
           CAST(CASE WHEN f.dday IS NULL OR f.dday < l.lday
                     THEN 1 ELSE 0 END AS INTEGER) AS leak_free
    FROM labels l ASOF LEFT JOIN feat f
      ON l.user_id = f.user_id AND l.lday - 1 >= f.dday
    """,
    doc="Point-in-time-correct feature join (the feature-store "
    "primitive): every purchase label is joined to the freshest "
    "rolling-7-day activity features computed at most one day BEFORE "
    "the label — an as-of join against the feature timeline, never "
    "an equi-join on the label day, which is how label leakage "
    "happens.  Features use a per-user RANGE window over integer day "
    "numbers (gap-correct, unlike a rows-frame); the as-of is the "
    "union+ignore-nulls-last single-shuffle form (operators/asof.py), "
    "DuckDB's native ASOF LEFT JOIN is the oracle.  leak_free is "
    "asserted =1 for every row in tests.  All-integer surface.",
    tags=("ml", "asof"),
)
def pit_training_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mqtt2sql_spark.operators.asof import asof_join_window

    ev = load_table(spark, sf_dir, "events")
    dday = F.datediff(F.col("ts").cast("date"), F.lit("1990-01-01").cast("date"))
    da = ev.groupBy("user_id", dday.alias("dday")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("clicks"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("views"),
    )
    wf = (
        W.partitionBy("user_id").orderBy("dday").rangeBetween(-6, 0)
    )
    feat = da.select(
        "user_id",
        "dday",
        F.sum("clicks").over(wf).cast("long").alias("clicks7"),
        F.sum("views").over(wf).cast("long").alias("views7"),
    )
    labels = (
        ev.where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", dday.alias("lday"))
        .withColumn("k", F.col("lday") - 1)
    )
    out = asof_join_window(
        labels,
        feat.select(
            "user_id",
            F.col("dday").alias("k"),
            F.col("dday").alias("feature_day"),
            "clicks7",
            "views7",
        ),
        on="k",
        by="user_id",
        right_cols=["feature_day", "clicks7", "views7"],
        suffix="",
        allow_exact=True,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("lday").cast("long").alias("label_day"),
        F.col("feature_day").cast("long").alias("feature_day"),
        F.coalesce(F.col("clicks7"), F.lit(0).cast("long")).alias("clicks7"),
        F.coalesce(F.col("views7"), F.lit(0).cast("long")).alias("views7"),
        F.when(
            F.col("feature_day").isNull()
            | (F.col("feature_day") < F.col("label_day")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("leak_free"),
    )


# --- temperature-scaled source sampling ------------------------------------


@register(
    "temperature_sampling_weights",
    oracle="""
    , sc AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY source
    ),
    scaled AS (
        SELECT source, n_docs, n_chars,
               CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)
                    AS BIGINT) AS s
        FROM sc
    ),
    tot AS (SELECT CAST(sum(s) AS BIGINT) AS st,
                   CAST(sum(n_docs) AS BIGINT) AS nt FROM scaled)
    SELECT source, n_docs,
           CAST(n_docs * 1000000 // (SELECT nt FROM tot) AS BIGINT)
               AS natural_share_ppm,
           CAST(s * 1000000 // (SELECT st FROM tot) AS BIGINT)
               AS sampled_share_ppm,
           CAST(s * 1000000 // (SELECT st FROM tot) * 1000000
                // greatest(n_docs * 1000000 // (SELECT nt FROM tot), 1)
                AS BIGINT) AS upsample_x1e6
    FROM scaled
    """,
    doc="Temperature-scaled source sampling (the multilingual-LM "
    "recipe: sample p_i proportional to n_i^alpha; alpha=1/2 here "
    "because sqrt is the one power both engines compute "
    "IEEE-exactly — fractional pow() is libm and banned by the "
    "LIBM/CONSTANTS rule): per source the natural share, the "
    "temperature-flattened sampled share, and the upsampling factor "
    "a data loader must apply — small sources gain, dominant ones "
    "shrink, the mitigation for low-resource starvation.  Each "
    "sqrt quantizes to integer micros BEFORE the normalizing sum so "
    "no float accumulation exists.  One dimension-sized rollup.",
    tags=("mixing", "sampling"),
)
def temperature_sampling_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sc = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    scaled = sc.select(
        "source",
        "n_docs",
        F.expr(
            "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)"
            " AS BIGINT)"
        ).alias("s"),
    )
    tot = scaled.agg(
        F.sum("s").cast("long").alias("st"),
        F.sum("n_docs").cast("long").alias("nt"),
    )
    return scaled.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr("CAST(n_docs * 1000000 div nt AS BIGINT)").alias(
            "natural_share_ppm"
        ),
        F.expr("CAST(s * 1000000 div st AS BIGINT)").alias(
            "sampled_share_ppm"
        ),
        F.expr(
            "CAST(s * 1000000 div st * 1000000"
            " div greatest(n_docs * 1000000 div nt, 1) AS BIGINT)"
        ).alias("upsample_x1e6"),
    )


# --- Neyman allocation of a stratified sample budget ------------------------

# total sample budget to allocate across the order-priority strata
_NEYMAN_T = 10_000

# N_h * S_h = sqrt(n*sum(x^2) - sum(x)^2) for the POPULATION stddev — the
# allocation weight needs no division, so it stays one sqrt over an exact
# integer (int128/decimal on both engines; cents^2 sums overflow BIGINT).
_NEYMAN_W_DUCK = (
    "CAST(floor(sqrt(CAST(n * s2 - s * s AS DOUBLE))) AS BIGINT)"
)
_NEYMAN_W_SPARK = (
    "CAST(floor(sqrt(CAST(n * s2 - CAST(s AS DECIMAL(38,0)) * s"
    " AS DOUBLE))) AS BIGINT)"
)


@register(
    "neyman_allocation_sample_sizes",
    oracle=f"""
    , st AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS s,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                   * CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS s2
        FROM orders GROUP BY o_orderpriority
    ),
    wts AS (
        SELECT o_orderpriority, n, s, {_NEYMAN_W_DUCK} AS w
        FROM st
    ),
    tot AS (SELECT sum(w) AS wsum FROM wts)
    SELECT o_orderpriority,
           n AS n_pop,
           CAST(s // n AS BIGINT) AS mean_cents,
           CAST(w // n AS BIGINT) AS sd_cents,
           CAST({_NEYMAN_T} * w // wsum AS BIGINT) AS alloc_n
    FROM wts CROSS JOIN tot
    """,
    doc="Neyman-optimal allocation of a {_NEYMAN_T}-row sample budget "
    "across order-priority strata: n_h proportional to N_h*S_h, the "
    "variance-minimizing design for stratified estimation of mean "
    "order value.  N_h*S_h collapses to sqrt(n*sum(x^2)-sum(x)^2) "
    "over exact integer cents (sums carried in int128/decimal — "
    "cents^2 overflows BIGINT at sf>=0.1), so the only float op is "
    "one correctly-rounded sqrt shared textually by both engines.  "
    "Dataflow: one map-side-partial aggregate to 5 stratum rows, a "
    "broadcast total, integer division for the final allocation — "
    "fact data is touched exactly once at any scale.",
    tags=("mixing", "sampling"),
)
def neyman_allocation_sample_sizes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    st = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("long").alias("s"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("s2"),
    )
    wts = st.select(
        "o_orderpriority", "n", "s", F.expr(_NEYMAN_W_SPARK).alias("w")
    )
    tot = wts.agg(F.sum("w").alias("wsum"))
    return wts.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        F.col("n").alias("n_pop"),
        F.expr("CAST(s DIV n AS BIGINT)").alias("mean_cents"),
        F.expr("CAST(w DIV n AS BIGINT)").alias("sd_cents"),
        F.expr(f"CAST({_NEYMAN_T} * w DIV wsum AS BIGINT)").alias("alloc_n"),
    )


# --- dataloader shard balance -------------------------------------------------

_DUCK_SHARD_HV8 = " + ".join(
    f"CAST(instr('{_HEX16}', substr(md5('shard:' || CAST(doc_id AS "
    f"VARCHAR)), {i + 1}, 1)) - 1 AS BIGINT) * {16 ** (7 - i)}"
    for i in range(8)
)


@register(
    "shard_token_balance",
    oracle=f"""
    , sh AS (
        SELECT ({_DUCK_SHARD_HV8}) % 64 AS shard,
               CAST(len({duck_tokens()}) AS BIGINT) AS n_tok
        FROM documents
    ),
    per AS (
        SELECT shard, count(*) AS n_docs, sum(n_tok) AS toks
        FROM sh GROUP BY shard
    ),
    tot AS (SELECT sum(toks) AS t FROM per)
    SELECT p.shard,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           CAST(p.toks AS BIGINT) AS n_tokens,
           CAST((1000000 * p.toks) // t.t AS BIGINT) AS share_ppm,
           CAST((1000000 * p.toks) // t.t - 1000000 // 64 AS BIGINT)
               AS dev_ppm
    FROM per p CROSS JOIN tot t
    """,
    doc="Dataloader shard skew audit: hash every document into 64 "
    "shards (md5 of doc_id — the deterministic split a distributed "
    "training job uses) and measure each shard's token mass against "
    "the uniform 1/64 share.  Token-imbalanced shards make "
    "data-parallel workers finish epochs at different times — the "
    "straggler tax — so dev_ppm is the number a pipeline owner "
    "watches before repacking.  Hash is the cross-engine md5-nibble "
    "construction (no conv() in DuckDB); one scan, one 64-group agg, "
    "exact integers.",
    tags=("mixing", "training"),
)
def shard_token_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("shard:"),
                                   F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 64
        ).alias("shard"),
        F.size(tokens("text")).cast("long").alias("n_tok"),
    )
    per = sh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("toks"),
    )
    tot = per.agg(F.sum("toks").alias("t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("toks").cast("long").alias("n_tokens"),
        F.expr("CAST((1000000 * toks) DIV t AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr(
            "CAST((1000000 * toks) DIV t - 1000000 DIV 64 AS BIGINT)"
        ).alias("dev_ppm"),
    )


# --- embedding index coverage of the corpus ---------------------------------------


@register(
    "doc_embedding_coverage",
    oracle=f"""
    , cov AS (
        SELECT d.source,
               CAST(len({duck_tokens("d.text")}) AS BIGINT) AS n_tok,
               CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS has_vec
        FROM documents d
        LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(has_vec) AS BIGINT) AS n_embedded,
           CAST((1000000 * sum(has_vec)) // count(*) AS BIGINT)
               AS doc_coverage_ppm,
           CAST((1000000 * sum(has_vec * n_tok))
                // greatest(sum(n_tok), 1) AS BIGINT)
               AS token_coverage_ppm
    FROM cov GROUP BY source
    """,
    doc="Semantic-index backlog: per source, how much of the corpus "
    "has an embedding row (vec_id = doc_id) — by document count AND "
    "by token mass, since embedding pipelines usually lag on the "
    "long documents that cost the most to encode.  The number that "
    "gates semantic_dedup_keep / ann_* from claiming corpus-wide "
    "results when the index only covers a slice.  Broadcast-able "
    "key-only right side, one LEFT equi-join, one agg; exact "
    "integers.",
    tags=("mixing", "similarity"),
)
def doc_embedding_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.lit(1).alias("has_vec")
    )
    cov = docs.join(emb, "doc_id", "left").select(
        "source",
        F.size(tokens("text")).cast("long").alias("n_tok"),
        F.coalesce(F.col("has_vec"), F.lit(0)).alias("has_vec"),
    )
    return cov.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("has_vec").cast("long").alias("n_embedded"),
        F.expr(
            "CAST((1000000 * sum(has_vec)) DIV count(*) AS BIGINT)"
        ).alias("doc_coverage_ppm"),
        F.expr(
            "CAST((1000000 * sum(has_vec * n_tok))"
            " DIV greatest(sum(n_tok), 1) AS BIGINT)"
        ).alias("token_coverage_ppm"),
    )


# --- embedding coverage split by quality --------------------------------------------------------------


@register(
    "embedding_coverage_by_quality",
    oracle=f"""
    , lab AS (
        SELECT d.doc_id,
               CASE WHEN len(toks) >= 20
                         AND CAST(length(d.text) AS DOUBLE)
                             / greatest(len(toks), 1) BETWEEN 3 AND 12
                         AND CAST(len(list_filter(toks, x -> x IN
                              ({", ".join(repr(w) for w in STOPWORDS)})))
                              AS DOUBLE) / greatest(len(toks), 1)
                             >= 0.01
                    THEN 1 ELSE 0 END AS passed
        FROM (SELECT doc_id, text, {duck_tokens()} AS toks
              FROM documents) d
    )
    SELECT l.passed,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_embedded,
           CAST((1000000 * sum(CASE WHEN e.vec_id IS NOT NULL
                                    THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS coverage_ppm
    FROM lab l LEFT JOIN embeddings e ON e.vec_id = l.doc_id
    GROUP BY l.passed
    """,
    doc="Is the embedding index quality-biased?  Coverage of the "
    "vector index (vec_id = doc_id) split by the quality gate's "
    "verdict — if failing docs are systematically unembedded, "
    "semantic dedup and ANN retrieval silently operate on the "
    "clean corpus only, and any 'semantic coverage' claim must be "
    "quality-conditioned (the quality cut of "
    "doc_embedding_coverage's source view).  One LEFT key join, "
    "one fold; the gate expressions are the canonical ones.",
    tags=("mixing", "similarity", "dq"),
)
def embedding_coverage_by_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mqtt2sql_spark.functions.text import (
        STOPWORDS,
        count_in_list,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_toks = F.size(toks)
    sw_ratio = count_in_list(toks, STOPWORDS).cast(
        "double"
    ) / F.greatest(n_toks, F.lit(1))
    cpt = F.length("text").cast("double") / F.greatest(
        n_toks, F.lit(1)
    )
    lab = docs.select(
        "doc_id",
        F.when(
            (n_toks >= 20)
            & (cpt >= 3)
            & (cpt <= 12)
            & (sw_ratio >= 0.01),
            1,
        )
        .otherwise(0)
        .alias("passed"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.lit(1).alias("has_vec")
    )
    j = lab.join(emb, "doc_id", "left")
    return j.groupBy("passed").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.coalesce(F.col("has_vec"), F.lit(0)))
        .cast("long")
        .alias("n_embedded"),
        F.expr(
            "CAST((1000000 * sum(coalesce(has_vec, 0)))"
            " DIV count(*) AS BIGINT)"
        ).alias("coverage_ppm"),
    ).select(
        F.col("passed").cast("long").alias("passed"),
        "n_docs",
        "n_embedded",
        "coverage_ppm",
    )
