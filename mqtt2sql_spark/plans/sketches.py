"""Approximate / sketch aggregates, built cross-engine-deterministic.

Spark's own `approx_count_distinct` (HyperLogLog++) and DuckDB's
`approx_count_distinct` use different hash functions and bias tables, so
their estimates can never hash-match.  Instead the sketch itself is
implemented from first principles (Flajolet et al. 2007) on top of md5 —
the one hash both engines share — so the *estimate is bit-identical* in
Spark and DuckDB and the oracle gate checks it like any exact query:

  * register index  = first two md5 nibbles mod 64          (m = 64)
  * rho             = leading-zero count of the next 60 hash bits + 1,
                      computed exactly as 61 - len(bin(w)) — integer
                      string-length math, no floating log2
  * register value  = max(rho) per (group, register)        — the only
                      aggregation; commutative, idempotent, and
                      mergeable, which is what makes HLL the right
                      100 TB distinct-count: partial aggregation
                      combines map-side, shuffle carries ≤ m rows per
                      group, and re-aggregation over partitions/days is
                      a max() again
  * estimate        = alpha_64·m²/Z as raw HLL, with the 2^-rho sum kept
                      in exact integer arithmetic (Σ 2^(61-rho) over
                      registers, absent registers contributing 2^61)
                      until a single final double division — both
                      engines perform the same one rounding

The small-range correction (linear counting m·ln(m/V) when the raw
estimate ≤ 2.5m and V registers are empty) is applied through a
precomputed 63-entry lookup table embedded as the same literal in both
engines: cross-engine ln() differs by 1 ulp for several V (measured), so
the table — not libm — is the definition.  Estimates are asserted to
±25% against the exact count in tests (σ ≈ 1.04/√64 ≈ 13%).
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.materialize import snapshot

from mqtt2sql_spark.fixtures import load_table, messages
from mqtt2sql_spark.plans.base import register

M = 64          # registers
W_BITS = 60     # hash bits fed to the rho counter
_POW61 = 1 << (W_BITS + 1)  # 2^61: the "empty register" integer term
# alpha_64 · m² · 2^61 as the correctly-rounded nearest double, computed
# exactly (Fraction) and embedded as the same literal in both engines —
# folding 0.709·4096·2^61 at runtime would round differently in DuckDB
# (decimal literals) than in Spark (double literals)
_NUMER = float(Fraction(709, 1000) * M * M * _POW61)

_HEX = "0123456789abcdef"

# linear-counting lookup: V empty registers (1..m-1) → round(m·ln(m/V), 2)
_LC = [round(M * math.log(M / v), 2) for v in range(1, M)]
_LC_SQL = "[" + ", ".join(repr(x) for x in _LC) + "]"
_RAW_MAX = 2.5 * M  # small-range threshold (raw estimate ≤ 2.5m)


def _nib_sql(i: int) -> str:
    return f"(instr('{_HEX}', substr(hh, {i}, 1)) - 1)"


def _w_sql() -> str:
    return " + ".join(
        f"CAST({_nib_sql(3 + i)} AS BIGINT) * {16 ** (14 - i)}"
        for i in range(15)
    )


def _nib_col(i: int) -> Column:
    return F.instr(F.lit(_HEX), F.substring("hh", i, 1)) - 1


def _w_col() -> Column:
    out = F.lit(0).cast("long")
    for i in range(15):
        out = out + _nib_col(3 + i).cast("long") * F.lit(16 ** (14 - i))
    return out


def hll_registers(
    df: DataFrame, group_cols: list[str], key_col: str
) -> DataFrame:
    """(*group_cols, bucket, rho) HLL registers for distinct-`key_col` per
    group: md5 of the key as a string, bucket = first two nibbles mod M,
    rho = leading zeros of the next W_BITS bits + 1, max(rho) per
    (group, bucket).

    The register relation IS the mergeable sketch state: max(rho) per
    (group, bucket) over any union of register sets equals the registers
    of the unioned raw data — what hll_daily_merge and
    hll_rolling_30d_distinct rely on when they merge per-day registers
    instead of re-reading the raw keys."""
    nib = df.select(
        *group_cols, F.md5(F.col(key_col).cast("string")).alias("hh")
    ).select(
        *group_cols,
        ((_nib_col(1) * 16 + _nib_col(2)) % M).alias("bucket"),
        _w_col().alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(W_BITS + 1)).otherwise(
        F.lit(W_BITS + 1) - F.length(F.bin("w"))
    )
    return nib.groupBy(*group_cols, "bucket").agg(F.max(rho).alias("rho"))


@register(
    "hll_distinct_users",
    bench=True,
    oracle=f"""
    , h AS (
        SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hh FROM events
    ),
    nib AS (
        SELECT event_type,
               (16 * {_nib_sql(1)} + {_nib_sql(2)}) % {M} AS bucket,
               {_w_sql()} AS w
        FROM h
    ),
    reg AS (
        SELECT event_type, bucket,
               max(CASE WHEN w = 0 THEN {W_BITS + 1}
                        ELSE {W_BITS + 1} - length(bin(w)) END) AS rho
        FROM nib GROUP BY event_type, bucket
    ),
    tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS registers_hit,
               sum(CAST((1::BIGINT << ({W_BITS + 1} - rho)) AS HUGEINT))
                   + CAST({M} - count(*) AS HUGEINT) * {_POW61} AS total
        FROM reg GROUP BY event_type
    ),
    ex AS (
        SELECT event_type, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT t.event_type, registers_hit,
           CASE WHEN {_NUMER!r} / CAST(total AS DOUBLE) <= {_RAW_MAX!r}
                     AND registers_hit < {M}
                THEN ({_LC_SQL})[{M} - registers_hit]
                ELSE round({_NUMER!r} / CAST(total AS DOUBLE), 2)
           END AS est_hll,
           n_exact
    FROM tot t JOIN ex USING (event_type)
    """,
    doc="Deterministic HyperLogLog distinct-count (Flajolet '07) per "
    "event_type over md5, with the register sum in exact integer "
    "arithmetic so Spark and DuckDB produce the bit-identical estimate "
    "— the mergeable-sketch pattern for 100 TB distinct counts (exact "
    "count(DISTINCT) joined alongside for error measurement).",
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    reg = hll_registers(ev, ["event_type"], "user_id")
    # F.shiftleft only takes a literal shift — the SQL form shifts by a column
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {W_BITS + 1} - rho)")
    tot = reg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("registers_hit"),
        (
            F.sum(term.cast("decimal(38,0)"))
            + (F.lit(M) - F.count(F.lit(1)))
            * F.lit(_POW61).cast("decimal(38,0)")
        ).alias("total"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    raw = F.lit(_NUMER) / F.col("total").cast("double")
    vacancy = (F.lit(M) - F.col("registers_hit")).cast("int")
    est = F.when(
        (raw <= F.lit(_RAW_MAX)) & (F.col("registers_hit") < M),
        F.element_at(F.array(*[F.lit(x) for x in _LC]), vacancy),
    ).otherwise(F.round(raw, 2))
    return tot.join(ex, "event_type").select(
        "event_type",
        "registers_hit",
        est.alias("est_hll"),
        "n_exact",
    )


@register(
    "hll_daily_merge",
    oracle=f"""
    , h AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               md5(CAST(user_id AS VARCHAR)) AS hh
        FROM events
    ),
    nib AS (
        SELECT event_type, day,
               (16 * {_nib_sql(1)} + {_nib_sql(2)}) % {M} AS bucket,
               {_w_sql()} AS w
        FROM h
    ),
    day_reg AS (
        SELECT event_type, day, bucket,
               max(CASE WHEN w = 0 THEN {W_BITS + 1}
                        ELSE {W_BITS + 1} - length(bin(w)) END) AS rho
        FROM nib GROUP BY event_type, day, bucket
    ),
    merged AS (
        SELECT event_type, bucket, max(rho) AS rho
        FROM day_reg GROUP BY event_type, bucket
    ),
    days AS (
        SELECT event_type, CAST(count(DISTINCT day) AS BIGINT) AS n_days
        FROM day_reg GROUP BY event_type
    ),
    tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS registers_hit,
               sum(CAST((1::BIGINT << ({W_BITS + 1} - rho)) AS HUGEINT))
                   + CAST({M} - count(*) AS HUGEINT) * {_POW61} AS total
        FROM merged GROUP BY event_type
    )
    SELECT t.event_type, n_days, registers_hit,
           CASE WHEN {_NUMER!r} / CAST(total AS DOUBLE) <= {_RAW_MAX!r}
                     AND registers_hit < {M}
                THEN ({_LC_SQL})[{M} - registers_hit]
                ELSE round({_NUMER!r} / CAST(total AS DOUBLE), 2)
           END AS est_merged
    FROM tot t JOIN days USING (event_type)
    """,
    doc="Sketch mergeability, demonstrated as a query: HLL registers are "
    "built independently PER DAY (the granularity a 100 TB pipeline "
    "materializes its daily rollups at), then merged across days with a "
    "plain max per register — no re-reading the raw events.  Because "
    "register max is associative/idempotent, the merged estimate is "
    "bit-identical to computing HLL directly over the whole range "
    "(hll_distinct_users), which the oracle proves by construction.  "
    "This is the property that lets distinct-counts roll up across "
    "partitions, days and clusters without a second scan.",
)
def hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day_reg = hll_registers(
        ev.select(
            "event_type", F.date_trunc("day", "ts").alias("day"), "user_id"
        ),
        ["event_type", "day"],
        "user_id",
    )
    merged = day_reg.groupBy("event_type", "bucket").agg(
        F.max("rho").alias("rho")
    )
    days = day_reg.groupBy("event_type").agg(
        F.countDistinct("day").cast("long").alias("n_days")
    )
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {W_BITS + 1} - rho)")
    tot = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("registers_hit"),
        (
            F.sum(term.cast("decimal(38,0)"))
            + (F.lit(M) - F.count(F.lit(1)))
            * F.lit(_POW61).cast("decimal(38,0)")
        ).alias("total"),
    )
    raw = F.lit(_NUMER) / F.col("total").cast("double")
    vacancy = (F.lit(M) - F.col("registers_hit")).cast("int")
    est = F.when(
        (raw <= F.lit(_RAW_MAX)) & (F.col("registers_hit") < M),
        F.element_at(F.array(*[F.lit(x) for x in _LC]), vacancy),
    ).otherwise(F.round(raw, 2))
    return tot.join(days, "event_type").select(
        "event_type", "n_days", "registers_hit", est.alias("est_merged")
    )


# --- hot topics ------------------------------------------------------------


@register(
    "hot_topics_heavy_hitters",
    oracle="""
    SELECT topic, count(*) AS n
    FROM messages GROUP BY topic HAVING count(*) >= 20
    """,
    doc="Hot-topic detection: topics with >= 20 messages.  Runs as "
    "having_hot_topics (GROUP BY ... HAVING with partial aggregation): "
    "the two-phase candidate/verify heavy-hitter operator this query "
    "used to run returned the same rows in 5 jobs to the plain plan's 3 "
    "and about 2-3x the wall time at sf0.1.",
)
def hot_topics_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mqtt2sql_spark.plans.analytics import having_hot_topics

    return having_hot_topics(spark, sf_dir)


# --- mergeable binned quantile estimate ------------------------------------

_QBIN_W = 1000  # fixed equi-width bin (o_totalprice spans ~[1e3, 5e5])


@register(
    "quantile_bins_estimate",
    oracle=f"""
    , bins AS (
        SELECT CAST(floor(o_totalprice / {_QBIN_W}) AS BIGINT) AS bin,
               count(*) AS cnt
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM bins),
    cum AS (
        SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum, n
        FROM bins CROSS JOIN tot
    )
    SELECT max(n) AS n,
           (min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) + 1)
               * {_QBIN_W} AS p50_ub,
           (min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin END) + 1)
               * {_QBIN_W} AS p95_ub,
           (min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) + 1)
               * {_QBIN_W} AS p99_ub
    FROM cum
    """,
    doc="Mergeable quantile estimation via fixed-width histogram bins — "
    "the 100 TB alternative to exact percentiles (orders_percentiles): "
    "per-bin counts partial-aggregate map-side, merge across "
    "partitions/days by addition (the HLL-register property for "
    "quantiles), and any percentile reads off the cumulative counts.  "
    "The estimate returned is the bin UPPER BOUND containing the "
    "ceil(p·n)-th value: pure integer arithmetic (ceil as (n·p+99) DIV "
    "100), error bounded by the bin width, no engine-specific "
    "interpolation.  The cumulative window runs over <= 500 bin rows — "
    "a deliberately tiny global window, not a fact-table one.",
)
def quantile_bins_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bins = o.groupBy(
        F.floor(F.col("o_totalprice") / _QBIN_W).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = bins.agg(F.sum("cnt").cast("long").alias("n"))
    cum = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        F.sum("cnt").over(W.orderBy("bin")).alias("cum"),
    )

    def ub(p: int, alias: str):
        thresh = F.expr(f"(n * {p} + 99) DIV 100")
        return (
            (F.min(F.when(F.col("cum") >= thresh, F.col("bin"))) + 1)
            * _QBIN_W
        ).alias(alias)

    return cum.agg(
        F.max("n").alias("n"),
        ub(50, "p50_ub"),
        ub(95, "p95_ub"),
        ub(99, "p99_ub"),
    )


# --- order-insensitive table fingerprint -----------------------------------

def _duck_hex15(expr: str) -> str:
    """First 15 md5 nibbles of `expr` as a BIGINT (same nibble math as
    the HLL register path — DuckDB has no hex→int conversion)."""
    return (
        "("
        + " + ".join(
            f"CAST((instr('{_HEX}', substr({expr}, {i + 1}, 1)) - 1) AS BIGINT)"
            f" * {16 ** (14 - i)}"
            for i in range(15)
        )
        + ")"
    )


@register(
    "events_table_fingerprint",
    oracle=f"""
    , rowhash AS (
        SELECT CAST(ts AS DATE) AS day,
               {_duck_hex15("md5(concat_ws('|', CAST(event_id AS VARCHAR), "
                            "CAST(epoch_us(ts) AS VARCHAR), "
                            "CAST(user_id AS VARCHAR), event_type, "
                            "CAST(CAST(round(value * 100, 0) AS BIGINT) "
                            "AS VARCHAR), props))")} AS h
        FROM events
    )
    SELECT day, count(*) AS n_rows, bit_xor(h) AS fingerprint
    FROM rowhash GROUP BY day
    """,
    doc="Order-insensitive per-day table fingerprint — the anti-entropy "
    "check for replicated/re-ingested tables: each row canonicalizes to "
    "one string (timestamps as exact epoch-us, doubles as exact cents), "
    "md5-hashes to a 60-bit integer, and XOR-aggregates per day "
    "partition.  XOR is commutative, associative, self-inverse and "
    "overflow-free, so fingerprints partial-aggregate map-side, merge "
    "across partitions, and comparing two 100 TB replicas costs one "
    "scan each plus a per-partition integer compare — re-verifying "
    "only days whose fingerprints diverge.  Same cross-engine md5 "
    "nibble math as the HLL sketch.",
)
def events_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.unix_micros("ts").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.round(F.col("value") * 100, 0).cast("long").cast("string"),
        F.col("props"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return (
        ev.select(F.col("ts").cast("date").alias("day"), h.alias("h"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("h").alias("fingerprint"),
        )
    )


# --- Count-Min sketch frequency estimation ----------------------------------

CM_DEPTH = 4  # independent hash rows
CM_WIDTH = 256  # buckets per row
CM_TOPK = 20  # report the estimate for the top-k true topics


def _duck_hex8(expr: str) -> str:
    """First 8 md5 nibbles of `expr` as a BIGINT (32-bit value)."""
    return (
        "("
        + " + ".join(
            f"CAST((instr('{_HEX}', substr({expr}, {i + 1}, 1)) - 1) AS BIGINT)"
            f" * {16 ** (7 - i)}"
            for i in range(8)
        )
        + ")"
    )


@register(
    "count_min_topic_freq",
    bench=True,
    oracle=f"""
    , cm_rows AS (
        SELECT topic, i,
               md5(CAST(i AS VARCHAR) || ':' || topic) AS hh
        FROM messages
        CROSS JOIN (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS i)
    ),
    sketch AS (
        SELECT i, {_duck_hex8('hh')} % {CM_WIDTH} AS bkt, count(*) AS c
        FROM cm_rows GROUP BY 1, 2
    ),
    topk AS (
        SELECT topic, true_n FROM (
            SELECT topic, count(*) AS true_n,
                   row_number() OVER (ORDER BY count(*) DESC, topic) AS rk
            FROM messages GROUP BY topic
        ) WHERE rk <= {CM_TOPK}
    ),
    probes AS (
        SELECT t.topic, t.true_n, i,
               md5(CAST(i AS VARCHAR) || ':' || t.topic) AS hh
        FROM topk t
        CROSS JOIN (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS i)
    )
    SELECT p.topic,
           CAST(p.true_n AS BIGINT) AS true_n,
           CAST(min(s.c) AS BIGINT) AS est_n,
           CAST(min(s.c) - p.true_n AS BIGINT) AS over_n
    FROM probes p
    JOIN sketch s ON s.i = p.i
                 AND s.bkt = {_duck_hex8('p.hh')} % {CM_WIDTH}
    GROUP BY p.topic, p.true_n
    """,
    doc=f"Count-Min sketch ({CM_DEPTH}×{CM_WIDTH}) frequency estimation "
    "over the topic stream, validated against true counts for the "
    "top-20 topics: est_n = min over rows of the hashed bucket count, "
    "always ≥ true_n (one-sided error), over_n is the collision "
    "overestimate.  The sketch is 4·256 integer cells built by one "
    "partial-agg shuffle (4× map-side fan-out, mergeable by cell "
    "addition — the fixed-memory frequency table you keep when 100 TB "
    "of keys can't be counted exactly), hashes are md5-nibble "
    "arithmetic identical on both engines, probes broadcast against "
    "the tiny sketch.  All-integer surface.",
)
def count_min_topic_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    msg = messages(spark, sf_dir)
    i_col = F.explode(
        F.array(*[F.lit(i) for i in range(CM_DEPTH)])
    ).alias("i")
    # r07 (guide §2.3 "aggregate before you shuffle"): the cell address
    # depends only on the TOPIC, so aggregate the stream to topic grain
    # once and build the sketch from per-topic counts — md5 runs on
    # 4x|topics| rows instead of 4x|messages|, the 4x explode fans out a
    # topic-grain relation, and the same aggregation subtree feeds the
    # true-count top-k branch (one events scan + one shuffle, shared via
    # ReusedExchange, instead of two of each).  Cell values are
    # identical: count of stream rows per cell == sum of the counts of
    # the topics hashing there.
    true_counts = msg.groupBy("topic").agg(
        F.count(F.lit(1)).alias("true_n")
    )
    hashed = true_counts.select("true_n", i_col, F.col("topic")).select(
        "true_n",
        "i",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("i").cast("string"), "topic")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % CM_WIDTH
        ).alias("bkt"),
    )
    sketch = hashed.groupBy("i", "bkt").agg(F.sum("true_n").alias("c"))
    topk = (
        true_counts.orderBy(F.desc("true_n"), F.asc("topic"))
        .limit(CM_TOPK)
    )
    probes = topk.select("topic", "true_n", i_col).select(
        "topic",
        "true_n",
        "i",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("i").cast("string"), "topic")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % CM_WIDTH
        ).alias("bkt"),
    )
    return (
        probes.join(F.broadcast(sketch), ["i", "bkt"])
        .groupBy("topic", "true_n")
        .agg(F.min("c").alias("est_n"))
        .select(
            "topic",
            F.col("true_n").cast("long").alias("true_n"),
            F.col("est_n").cast("long").alias("est_n"),
            (F.col("est_n") - F.col("true_n")).cast("long").alias("over_n"),
        )
    )


# --------------------------------------------------------------------------
# KMV (k-minimum-values) theta sketch: distinct counts WITH set algebra.
# HLL (above) merges by union only; the KMV sketch — the k smallest
# 60-bit md5 hash values per group — additionally supports union and
# (via inclusion-exclusion) intersection estimates, which is what a
# 100 TB audience-overlap / segment-jaccard question needs.  The k-th
# minimum hash U(k) estimates the distinct count as (k-1)·2^60/U(k)
# (Bar-Yossef et al. 2002); with fewer than k distinct hashes the sketch
# IS the exact set.  The union sketch of two groups is the k smallest of
# the concatenated sketches — never the raw data — so merge cost is
# O(k) per group pair.  The estimate is kept in exact integer
# arithmetic ((k-1)·2^60 as DECIMAL/HUGEINT, one integral division), so
# Spark and DuckDB are bit-identical; exact union/intersection counts
# ride along for error measurement (like hll_distinct_users).
# --------------------------------------------------------------------------

KMV_K = 64
_KMV_NUM = str((KMV_K - 1) << 60)  # (k-1)·2^60, exceeds int64 → string literal


def _kmv_est_col() -> Column:
    """Estimate from an agg'd sketch with columns cnt (rows kept) and
    hk (k-th minimum hash): exact when the whole set fit in the sketch,
    else the KMV estimator in exact integer math (div → BIGINT)."""
    return F.when(
        F.col("cnt") < KMV_K, F.col("cnt").cast("long")
    ).otherwise(
        F.expr(
            f"CAST(CAST('{_KMV_NUM}' AS DECIMAL(38,0))"
            " div greatest(hk, CAST(1 AS BIGINT)) AS BIGINT)"
        )
    )


def _kmv_est_sql(alias: str) -> str:
    return f"""
           CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS BIGINT)
                ELSE CAST(CAST('{_KMV_NUM}' AS HUGEINT)
                          // greatest(max(h), 1) AS BIGINT)
           END AS {alias}"""


@register(
    "kmv_theta_sketch_pairs",
    bench=True,
    oracle=f"""
    , kh AS (
        SELECT DISTINCT event_type,
               {_duck_hex15("md5(CAST(user_id AS VARCHAR))")} AS h
        FROM events
    ),
    sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h) AS r
            FROM kh
        ) WHERE r <= {KMV_K}
    ),
    esta AS (
        SELECT event_type, {_kmv_est_sql("est")}
        FROM sk GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               a.est AS est_a, b.est AS est_b
        FROM esta a JOIN esta b ON a.event_type < b.event_type
    ),
    u AS (
        SELECT DISTINCT p.ta, p.tb, s.h
        FROM pairs p
        JOIN sk s ON s.event_type = p.ta OR s.event_type = p.tb
    ),
    usk AS (
        SELECT ta, tb, h FROM (
            SELECT ta, tb, h,
                   row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS r
            FROM u
        ) WHERE r <= {KMV_K}
    ),
    estu AS (
        SELECT ta, tb, {_kmv_est_sql("est_union")}
        FROM usk GROUP BY ta, tb
    ),
    du AS (SELECT DISTINCT event_type, user_id FROM events),
    exu AS (
        SELECT p.ta, p.tb,
               CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_union_exact
        FROM (SELECT DISTINCT ta, tb FROM pairs) p
        JOIN du d ON d.event_type = p.ta OR d.event_type = p.tb
        GROUP BY p.ta, p.tb
    ),
    exi AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(count(*) AS BIGINT) AS n_inter_exact
        FROM du a
        JOIN du b ON a.user_id = b.user_id
                 AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.ta, p.tb, p.est_a, p.est_b, e.est_union,
           p.est_a + p.est_b - e.est_union AS est_inter,
           CAST(greatest(p.est_a + p.est_b - e.est_union, 0) * 1000000
                // greatest(e.est_union, 1) AS BIGINT) AS jaccard_est_ppm,
           x.n_union_exact,
           coalesce(i.n_inter_exact, 0) AS n_inter_exact
    FROM pairs p
    JOIN estu e USING (ta, tb)
    JOIN exu x USING (ta, tb)
    LEFT JOIN exi i USING (ta, tb)
    """,
    doc=f"KMV theta sketch (k={KMV_K} minimum 60-bit md5 values) per "
    "event_type with pairwise set algebra: union estimate from the "
    "merged sketches (k smallest of the two k-min sets — O(k) merge, "
    "never touching raw data) and intersection / jaccard via "
    "inclusion-exclusion, all in exact integer arithmetic so both "
    "engines agree bit-for-bit.  Exact union/intersection counts are "
    "joined alongside to measure sketch error.  At 100 TB the sketch "
    "relation is ≤ k rows per group after one partial-agg'd shuffle; "
    "every pairwise op downstream runs on ≤ k·|groups| rows.",
    tags=("sketch", "distinct"),
)
def kmv_theta_sketch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    kh = ev.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    w = W.partitionBy("event_type").orderBy("h")
    sk = (
        kh.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= KMV_K)
        .drop("r")
        # <= k rows per type; read by both the per-type estimates and the
        # union sketch — materialize once instead of re-ranking the
        # distinct-hash stream per branch
        .transform(snapshot, eager=True)
    )
    esta = (
        sk.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("h").alias("hk"))
        .select("event_type", _kmv_est_col().alias("est"))
    )
    pairs = (
        esta.select(
            F.col("event_type").alias("ta"), F.col("est").alias("est_a")
        )
        .join(
            esta.select(
                F.col("event_type").alias("tb"), F.col("est").alias("est_b")
            ),
            F.col("ta") < F.col("tb"),
        )
    )
    # union sketch: k smallest of the two k-min sets.  The OR-join is a
    # nested loop against the tiny pairs relation (|types|² rows) over
    # the ≤ k·|types|-row sketch — post-sketch work never sees raw data.
    pair_keys = pairs.select("ta", "tb")
    u = (
        pair_keys.join(
            sk,
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .select("ta", "tb", "h")
        .distinct()
    )
    wu = W.partitionBy("ta", "tb").orderBy("h")
    usk = (
        u.withColumn("r", F.row_number().over(wu))
        .where(F.col("r") <= KMV_K)
        .drop("r")
    )
    estu = (
        usk.groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("h").alias("hk"))
        .select("ta", "tb", _kmv_est_col().alias("est_union"))
    )
    du = ev.select("event_type", "user_id").distinct()
    exu = (
        pair_keys.join(
            du,
            (du["event_type"] == F.col("ta"))
            | (du["event_type"] == F.col("tb")),
        )
        .groupBy("ta", "tb")
        .agg(F.countDistinct("user_id").cast("long").alias("n_union_exact"))
    )
    exi = (
        du.alias("a")
        .join(
            du.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter_exact"))
    )
    inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return (
        pairs.join(estu, ["ta", "tb"])
        .join(exu, ["ta", "tb"])
        .join(exi, ["ta", "tb"], "left")
        .select(
            "ta",
            "tb",
            "est_a",
            "est_b",
            "est_union",
            inter.alias("est_inter"),
            F.expr(
                "CAST(greatest(est_a + est_b - est_union, 0) * 1000000"
                " div greatest(est_union, 1) AS BIGINT)"
            ).alias("jaccard_est_ppm"),
            "n_union_exact",
            F.coalesce(F.col("n_inter_exact"), F.lit(0).cast("long")).alias(
                "n_inter_exact"
            ),
        )
    )


# --------------------------------------------------------------------------
# Zone-map (min/max statistics) pruning audit.  Parquet row groups, Delta
# file stats and ORC stripes all prune scans with per-chunk min/max; this
# query builds the zone map a day-partitioned events table would carry
# and measures how much of a range predicate's I/O it eliminates — the
# "should we partition/sort by this column" planning question asked
# before laying out a 100 TB table.
# --------------------------------------------------------------------------

ZM_LO, ZM_HI = 200.0, 250.0  # exactly-representable doubles on both engines


@register(
    "zonemap_pruning_audit",
    oracle=f"""
    , zones AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               min(value) AS mn, max(value) AS mx,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN value >= {ZM_LO!r} AND value <= {ZM_HI!r}
                             THEN 1 ELSE 0 END) AS BIGINT) AS matched
        FROM events GROUP BY 1, 2
    ),
    flagged AS (
        SELECT event_type, n, matched,
               CASE WHEN mx < {ZM_LO!r} OR mn > {ZM_HI!r}
                    THEN 1 ELSE 0 END AS pruned
        FROM zones
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_zones,
           CAST(sum(pruned) AS BIGINT) AS zones_pruned,
           CAST(sum(n) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN pruned = 1 THEN n ELSE 0 END) AS BIGINT)
               AS rows_pruned,
           CAST(sum(CASE WHEN pruned = 0 THEN n ELSE 0 END) AS BIGINT)
               AS rows_scanned,
           CAST(sum(matched) AS BIGINT) AS rows_matched,
           CAST((sum(CASE WHEN pruned = 0 THEN n ELSE 0 END)
                 - sum(matched)) * 1000000
                // greatest(sum(CASE WHEN pruned = 0 THEN n ELSE 0 END), 1)
                AS BIGINT) AS false_positive_ppm
    FROM flagged GROUP BY event_type
    """,
    doc=f"Zone-map pruning audit: per (event_type, day) zone, the "
    f"min/max statistics a day-partitioned layout would store, scored "
    f"against the range predicate value IN [{ZM_LO}, {ZM_HI}] — zones "
    "whose [min,max] misses the range are skipped without scanning.  "
    "Reports zones/rows pruned, rows the surviving zones would scan, "
    "exact matches, and the false-positive read ratio in integer ppm "
    "(how much I/O min/max stats fail to eliminate).  One partial-"
    "agg'd shuffle builds the zone map; the audit itself runs on "
    "|types|x|days| stat rows.  Predicate constants are exactly-"
    "representable doubles so comparisons are bit-identical.",
    tags=("sketch", "layout"),
)
def zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    in_range = (F.col("value") >= ZM_LO) & (F.col("value") <= ZM_HI)
    zones = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(in_range, 1).otherwise(0)).alias("matched"),
    )
    flagged = zones.select(
        "event_type",
        "n",
        "matched",
        F.when(
            (F.col("mx") < ZM_LO) | (F.col("mn") > ZM_HI), 1
        ).otherwise(0).alias("pruned"),
    )
    scanned = F.sum(F.when(F.col("pruned") == 0, F.col("n")).otherwise(0))
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_zones"),
        F.sum("pruned").cast("long").alias("zones_pruned"),
        F.sum("n").cast("long").alias("rows_total"),
        F.sum(F.when(F.col("pruned") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_pruned"),
        scanned.cast("long").alias("rows_scanned"),
        F.sum("matched").cast("long").alias("rows_matched"),
        F.expr(
            "CAST((sum(CASE WHEN pruned = 0 THEN n ELSE 0 END)"
            " - sum(matched)) * 1000000"
            " div greatest(sum(CASE WHEN pruned = 0 THEN n ELSE 0 END), 1)"
            " AS BIGINT)"
        ).alias("false_positive_ppm"),
    )


@register(
    "bitmap_user_overlap",
    oracle="""
    , bm AS (
        SELECT event_type, user_id // 63 AS bucket,
               bit_or(1::BIGINT << CAST(user_id % 63 AS INTEGER)) AS w
        FROM events GROUP BY 1, 2
    ),
    card AS (
        SELECT event_type, CAST(sum(bit_count(w)) AS BIGINT) AS n
        FROM bm GROUP BY 1
    ),
    inter AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(sum(bit_count(a.w & b.w)) AS BIGINT) AS co_users
        FROM bm a
        JOIN bm b ON a.bucket = b.bucket
                 AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.ta, i.tb, ca.n AS n_a, cb.n AS n_b, i.co_users,
           CAST(i.co_users * 1000000
                // greatest(ca.n + cb.n - i.co_users, 1) AS BIGINT)
               AS jaccard_ppm
    FROM inter i
    JOIN card ca ON ca.event_type = i.ta
    JOIN card cb ON cb.event_type = i.tb
    """,
    doc="Bitmap-index set intersection: users per event_type packed "
    "into 63-bit non-negative words keyed by user_id//63 (bit 63 is "
    "never set: DuckDB range-checks signed left shift at 1<<63 where "
    "Spark wraps, so the word width is what both engines agree on; "
    "roaring-style dense-chunk layout otherwise), "
    "bitmaps use for dense chunks), cardinalities via bit_count, and "
    "pairwise audience overlap via word-AND on the bucket equi-join — "
    "EXACT jaccard, the precise counterpart to kmv_theta_sketch_pairs' "
    "estimates.  The bitmap relation is 64x smaller than the distinct "
    "user list and bit_or/bit_count/AND are all codegen'd integer ops; "
    "at 100 TB the per-type bitmap build is one partial-agg'd shuffle "
    "and the pair join shuffles words, never user rows.  All-integer "
    "surface.",
    tags=("sketch", "bitmap"),
)
def bitmap_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bm = ev.groupBy(
        "event_type",
        F.expr("user_id div 63").alias("bucket"),
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT),"
            " CAST(user_id % 63 AS INT)))"
        ).alias("w")
    )
    card = bm.groupBy("event_type").agg(
        F.sum(F.bit_count("w")).cast("long").alias("n")
    )
    a = bm.select(
        F.col("event_type").alias("ta"), "bucket", F.col("w").alias("wa")
    )
    b = bm.select(
        F.col("event_type").alias("tb"), "bucket", F.col("w").alias("wb")
    )
    inter = (
        a.join(b, ["bucket"])
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(
            F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
            .cast("long")
            .alias("co_users")
        )
    )
    return (
        inter.join(
            F.broadcast(card.select(F.col("event_type").alias("ta"),
                                    F.col("n").alias("n_a"))),
            "ta",
        )
        .join(
            F.broadcast(card.select(F.col("event_type").alias("tb"),
                                    F.col("n").alias("n_b"))),
            "tb",
        )
        .select(
            "ta", "tb", "n_a", "n_b", "co_users",
            F.expr(
                "CAST(co_users * 1000000"
                " div greatest(n_a + n_b - co_users, 1) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


_PK_CANDIDATES = (
    ("event_type", "event_type"),
    ("user_id", "CAST(user_id AS VARCHAR)"),
    ("day", "CAST(CAST(ts AS DATE) AS VARCHAR)"),
    ("hour_of_day", "CAST(hour(ts) AS VARCHAR)"),
)


@register(
    "partition_key_advisor",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{name}' AS candidate,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(sum(c) // count(*) AS BIGINT) AS avg_rows_per_key,
           CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_share_ppm,
           CAST(CASE WHEN max(c) * count(*) <= 2 * sum(c)
                     THEN 1 ELSE 0 END AS INTEGER) AS balanced
    FROM (SELECT {expr} AS k, count(*) AS c FROM events GROUP BY 1)"""
        for name, expr in _PK_CANDIDATES
    ),
    doc="Partition-key advisor: for each candidate layout key of the "
    "events table (type, user, day, hour-of-day) the statistics that "
    "decide a 100 TB physical design — key cardinality, rows per "
    "key, the heaviest key's share (skew) in ppm, and a balanced "
    "flag (max <= 2x mean): too few keys underparallelizes, too "
    "many makes small files, a hot key makes stragglers.  Each "
    "candidate is one partial-agg'd groupBy; candidates union at the "
    "4-row summary level.  All-integer surface.",
    tags=("sketch", "layout"),
)
def partition_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    outs = []
    for name, _expr in _PK_CANDIDATES:
        if name == "event_type":
            k = F.col("event_type")
        elif name == "user_id":
            k = F.col("user_id").cast("string")
        elif name == "day":
            k = F.col("ts").cast("date").cast("string")
        else:
            k = F.hour("ts").cast("string")
        g = ev.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("c"))
        outs.append(
            g.agg(
                F.lit(name).alias("candidate"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum("c").cast("long").alias("n_rows"),
                F.expr("CAST(sum(c) div count(*) AS BIGINT)").alias(
                    "avg_rows_per_key"
                ),
                F.expr(
                    "CAST(max(c) * 1000000 div sum(c) AS BIGINT)"
                ).alias("top_share_ppm"),
                F.expr(
                    "CAST(CASE WHEN max(c) * count(*) <= 2 * sum(c)"
                    " THEN 1 ELSE 0 END AS INT)"
                ).alias("balanced"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


ROLL_DAYS = 30


@register(
    "hll_rolling_30d_distinct",
    oracle=f"""
    , h AS (
        SELECT CAST(ts AS DATE) AS day,
               md5(CAST(user_id AS VARCHAR)) AS hh
        FROM events
    ),
    nib AS (
        SELECT day, (16 * {_nib_sql(1)} + {_nib_sql(2)}) % {M} AS bucket,
               {_w_sql()} AS w
        FROM h
    ),
    day_reg AS (
        SELECT day, bucket,
               max(CASE WHEN w = 0 THEN {W_BITS + 1}
                        ELSE {W_BITS + 1} - length(bin(w)) END) AS rho
        FROM nib GROUP BY day, bucket
    ),
    days AS (SELECT DISTINCT day FROM day_reg),
    win AS (
        SELECT a.day AS day, r.bucket, max(r.rho) AS rho
        FROM days a
        JOIN day_reg r ON r.day <= a.day
                      AND r.day > a.day - {ROLL_DAYS}
        GROUP BY a.day, r.bucket
    ),
    tot AS (
        SELECT day, CAST(count(*) AS BIGINT) AS registers_hit,
               sum(CAST((1::BIGINT << ({W_BITS + 1} - rho)) AS HUGEINT))
                   + CAST({M} - count(*) AS HUGEINT) * {_POW61} AS total
        FROM win GROUP BY day
    ),
    du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    ex AS (
        SELECT a.day, CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_exact
        FROM days a
        JOIN du d ON d.day <= a.day AND d.day > a.day - {ROLL_DAYS}
        GROUP BY a.day
    )
    SELECT t.day, registers_hit,
           CASE WHEN {_NUMER!r} / CAST(total AS DOUBLE) <= {_RAW_MAX!r}
                     AND registers_hit < {M}
                THEN ({_LC_SQL})[{M} - registers_hit]
                ELSE round({_NUMER!r} / CAST(total AS DOUBLE), 2)
           END AS est_rolling,
           n_exact
    FROM tot t JOIN ex USING (day)
    """,
    doc=f"Rolling {ROLL_DAYS}-day distinct users per day by MERGING "
    "daily HLL register sets (max per bucket over the window) — the "
    "sliding-window distinct count that is intractable exactly at "
    "100 TB but O(days x m) from retained daily sketches: the "
    "register relation is <= 64 rows per day, so a year of state is "
    "~23k rows regardless of traffic, and re-aggregation is a max() "
    "— the same mergeability hll_daily_merge proves, applied to "
    "overlapping windows.  Exact rolling distinct joined alongside "
    "for error measurement (fixture-scale only).  Estimate "
    "arithmetic identical to hll_distinct_users (integer register "
    "sum, one double division, lookup-table linear counting).",
    tags=("sketch", "window"),
)
def hll_rolling_30d_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day_reg = hll_registers(
        ev.select(F.col("ts").cast("date").alias("day"), "user_id"),
        ["day"],
        "user_id",
    )
    days = day_reg.select("day").distinct().select(
        F.col("day").alias("tday")
    )
    win = (
        F.broadcast(days)
        .join(
            day_reg,
            (F.col("day") <= F.col("tday"))
            & (F.col("day") > F.date_sub(F.col("tday"), ROLL_DAYS)),
        )
        .groupBy("tday", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {W_BITS + 1} - rho)")
    tot = win.groupBy("tday").agg(
        F.count(F.lit(1)).cast("long").alias("registers_hit"),
        (
            F.sum(term.cast("decimal(38,0)"))
            + (F.lit(M) - F.count(F.lit(1)))
            * F.lit(_POW61).cast("decimal(38,0)")
        ).alias("total"),
    )
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    ex = (
        F.broadcast(days)
        .join(
            du,
            (F.col("day") <= F.col("tday"))
            & (F.col("day") > F.date_sub(F.col("tday"), ROLL_DAYS)),
        )
        .groupBy("tday")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    raw = F.lit(_NUMER) / F.col("total").cast("double")
    vacancy = (F.lit(M) - F.col("registers_hit")).cast("int")
    est = F.when(
        (raw <= F.lit(_RAW_MAX)) & (F.col("registers_hit") < M),
        F.element_at(F.array(*[F.lit(x) for x in _LC]), vacancy),
    ).otherwise(F.round(raw, 2))
    return (
        tot.join(ex, "tday")
        .select(
            F.col("tday").alias("day"),
            "registers_hit",
            est.alias("est_rolling"),
            "n_exact",
        )
    )


_ENC_COLS = (
    ("event_type", "event_type"),
    ("user_id", "CAST(user_id AS VARCHAR)"),
    ("value", "CAST(value AS VARCHAR)"),
    ("props", "props"),
)


@register(
    "encoding_advisor_events",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{name}' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT v) AS BIGINT) AS ndv,
           CAST(count(DISTINCT v) * 1000000 // count(*) AS BIGINT)
               AS dict_ratio_ppm,
           CAST(count(*) - sum(chg) AS BIGINT) AS n_run_continuations
    FROM (
        SELECT v, CASE WHEN v = lag(v) OVER (PARTITION BY day
                                             ORDER BY event_id)
                       THEN 0 ELSE 1 END AS chg
        FROM (SELECT CAST(ts AS DATE) AS day, event_id, {expr} AS v
              FROM events)
    )"""
        for name, expr in _ENC_COLS
    ),
    doc="Column-encoding advisor for the events table: per column the "
    "dictionary ratio (ndv/rows in ppm — low means dictionary "
    "encoding wins) and the run-length signal (adjacent equal "
    "values within each day partition in event_id order — high "
    "continuation count means RLE wins), the two statistics parquet "
    "writers use to pick encodings.  Runs are measured inside day "
    "partitions so the window parallelizes by day at any scale; "
    "each column is one partial-agg'd pass, unioned at the 4-row "
    "summary level.  Completes the physical-design trio with "
    "zonemap_pruning_audit and partition_key_advisor.",
    tags=("sketch", "layout"),
)
def encoding_advisor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    outs = []
    for name, _ in _ENC_COLS:
        if name == "user_id":
            v = F.col("user_id").cast("string")
        elif name == "value":
            v = F.col("value").cast("string")
        else:
            v = F.col(name)
        base = ev.select(
            F.col("ts").cast("date").alias("day"), "event_id", v.alias("v")
        )
        w = W.partitionBy("day").orderBy("event_id")
        chg = base.select(
            "v",
            F.when(F.col("v") == F.lag("v").over(w), 0)
            .otherwise(1)
            .alias("chg"),
        )
        outs.append(
            chg.agg(
                F.lit(name).alias("col"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct("v").cast("long").alias("ndv"),
                F.expr(
                    "CAST(count(DISTINCT v) * 1000000 div count(*)"
                    " AS BIGINT)"
                ).alias("dict_ratio_ppm"),
                (F.count(F.lit(1)) - F.sum("chg"))
                .cast("long")
                .alias("n_run_continuations"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


_UPSET_TYPES = ("click", "error", "purchase", "signup", "view")
_UPSET_BIT = {t: 1 << i for i, t in enumerate(_UPSET_TYPES)}
_UPSET_BIT_SQL = " ".join(
    f"WHEN '{t}' THEN {b}" for t, b in _UPSET_BIT.items()
)


@register(
    "event_type_upset_combos",
    oracle=f"""
    , um AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               bit_or(CASE event_type {_UPSET_BIT_SQL} ELSE 0 END) AS mask
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT CAST(mask AS INTEGER) AS mask,
           CAST(bit_count(mask) AS INTEGER) AS n_types,
           CAST(count(*) AS BIGINT) AS n_users
    FROM um GROUP BY mask
    """,
    doc="UpSet-plot source data: user-DAYS bucketed by the exact "
    "combination of event types emitted that day (lifetime masks "
    "are degenerate in this fixture - every user eventually does "
    "everything), encoded as a "
    "5-bit mask (bit_or aggregate — one partial-agg'd shuffle, the "
    "combination lattice never materializes) with the combination "
    "size via bit_count.  Venn diagrams stop at 3 sets; the mask "
    "histogram is the standard answer for 5+.  All-integer.",
    tags=("sketch", "bitmap"),
)
def event_type_upset_combos(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bit = F.lit(0)
    expr = "CASE event_type " + _UPSET_BIT_SQL + " ELSE 0 END"
    um = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.expr(f"bit_or({expr})").alias("mask"))
    return (
        um.groupBy(F.col("mask").cast("int").alias("mask"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            "mask",
            F.bit_count("mask").cast("int").alias("n_types"),
            "n_users",
        )
    )


# --- HLL accuracy sweep over register counts --------------------------------

# m = 16 / 64 / 256 from ONE hash pass: bucket = (16*nib1 + nib2) % m.
# Per-m constants (alpha_m per Flajolet '07) are computed exactly in
# Fraction space and embedded as identical literals on both engines;
# linear-counting tables are per-m literal arrays (libm ln() is 1-ulp
# engine-dependent — the table is the definition).
_HLL_MS = [16, 64, 256]


def _hll_alpha(m: int) -> Fraction:
    if m == 16:
        return Fraction(673, 1000)
    if m == 32:
        return Fraction(697, 1000)
    if m == 64:
        return Fraction(709, 1000)
    return Fraction(7213, 10000) / (1 + Fraction(1079, 1000) / m)


_HLL_NUMER = {m: float(_hll_alpha(m) * m * m * _POW61) for m in _HLL_MS}
_HLL_LC = {
    m: [round(m * math.log(m / v), 2) for v in range(1, m)] for m in _HLL_MS
}


@register(
    "hll_register_size_sweep",
    oracle=f"""
    , h AS (
        SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hh FROM events
    ),
    nib AS (
        SELECT event_type,
               (16 * {_nib_sql(1)} + {_nib_sql(2)}) AS b256,
               {_w_sql()} AS w
        FROM h
    ),
    cfg AS (SELECT * FROM (VALUES {", ".join(f"({m})" for m in _HLL_MS)}) AS t(m)),
    reg AS (
        SELECT event_type, m, b256 % m AS bucket,
               max(CASE WHEN w = 0 THEN {W_BITS + 1}
                        ELSE {W_BITS + 1} - length(bin(w)) END) AS rho
        FROM nib CROSS JOIN cfg GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT event_type, m, CAST(count(*) AS BIGINT) AS registers_hit,
               sum(CAST((1::BIGINT << ({W_BITS + 1} - rho)) AS HUGEINT))
                   + CAST(m - count(*) AS HUGEINT) * {_POW61} AS total
        FROM reg GROUP BY event_type, m
    ),
    ex AS (
        SELECT event_type, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY event_type
    ),
    est AS (
        SELECT t.event_type, t.m, t.registers_hit, e.n_exact,
               CASE
                 WHEN t.m = 16 AND {_HLL_NUMER[16]!r} / CAST(total AS DOUBLE)
                      <= {2.5 * 16!r} AND registers_hit < 16
                   THEN ({"[" + ", ".join(repr(x) for x in _HLL_LC[16]) + "]"})[16 - registers_hit]
                 WHEN t.m = 16
                   THEN round({_HLL_NUMER[16]!r} / CAST(total AS DOUBLE), 2)
                 WHEN t.m = 64 AND {_HLL_NUMER[64]!r} / CAST(total AS DOUBLE)
                      <= {2.5 * 64!r} AND registers_hit < 64
                   THEN ({"[" + ", ".join(repr(x) for x in _HLL_LC[64]) + "]"})[64 - registers_hit]
                 WHEN t.m = 64
                   THEN round({_HLL_NUMER[64]!r} / CAST(total AS DOUBLE), 2)
                 WHEN t.m = 256 AND {_HLL_NUMER[256]!r} / CAST(total AS DOUBLE)
                      <= {2.5 * 256!r} AND registers_hit < 256
                   THEN ({"[" + ", ".join(repr(x) for x in _HLL_LC[256]) + "]"})[256 - registers_hit]
                 ELSE round({_HLL_NUMER[256]!r} / CAST(total AS DOUBLE), 2)
               END AS est_hll
        FROM tot t JOIN ex e USING (event_type)
    )
    SELECT event_type, CAST(m AS BIGINT) AS m, registers_hit,
           est_hll, n_exact,
           CAST(floor(abs(est_hll - n_exact) * 1000000.0
                      / CAST(n_exact AS DOUBLE)) AS BIGINT) AS err_ppm
    FROM est
    """,
    doc="HyperLogLog accuracy sweep over register counts m = 16/64/256 "
    "from ONE md5 pass (bucket = first-two-nibbles mod m, rho from "
    "the same 60 hash bits) — the sketch-sizing trade every 100 TB "
    "distinct-count deployment makes: theoretical sigma 1.04/sqrt(m) "
    "= 26%/13%/6.5%, read off against the exact count as err_ppm.  "
    "Per-m alpha constants and linear-counting tables are "
    "Fraction-exact Python literals shared verbatim by both engines "
    "(libm ln differs by 1 ulp — the table is the definition), and "
    "the 2^-rho sums stay exact integers until one final division, "
    "so every estimate is bit-identical cross-engine.  The 3-way "
    "config fan-out multiplies only the register aggregate "
    "(map-side partial, <= m rows per group reach the shuffle).",
    tags=("sketches", "eval"),
)
def hll_register_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("hh")
    )
    nib = h.select(
        "event_type",
        (_nib_col(1) * 16 + _nib_col(2)).alias("b256"),
        _w_col().alias("w"),
    )
    cfg = spark.createDataFrame([(m,) for m in _HLL_MS], "m INT")
    rho = F.when(F.col("w") == 0, F.lit(W_BITS + 1)).otherwise(
        F.lit(W_BITS + 1) - F.length(F.bin("w"))
    )
    reg = (
        nib.crossJoin(F.broadcast(cfg))
        .groupBy("event_type", "m", (F.col("b256") % F.col("m")).alias("bucket"))
        .agg(F.max(rho).alias("rho"))
    )
    tot = reg.groupBy("event_type", "m").agg(
        F.count(F.lit(1)).cast("long").alias("registers_hit"),
        (
            F.sum(
                F.expr(
                    f"CAST(shiftleft(CAST(1 AS BIGINT), {W_BITS + 1} - rho)"
                    " AS DECIMAL(38,0))"
                )
            )
            + (F.col("m") - F.count(F.lit(1))).cast("decimal(38,0)")
            * F.lit(_POW61).cast("decimal(38,0)")
        ).alias("total"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est_col = None
    for m in _HLL_MS:
        lc = F.array(*[F.lit(x) for x in _HLL_LC[m]])
        raw = F.lit(_HLL_NUMER[m]) / F.col("total").cast("double")
        small = (
            (F.col("m") == m)
            & (raw <= F.lit(2.5 * m))
            & (F.col("registers_hit") < m)
        )
        branch_small = F.element_at(lc, (F.lit(m) - F.col("registers_hit")).cast("int"))
        branch_raw = F.round(raw, 2)
        if est_col is None:
            est_col = F.when(small, branch_small).when(
                F.col("m") == m, branch_raw
            )
        else:
            est_col = est_col.when(small, branch_small).when(
                F.col("m") == m, branch_raw
            )
    est = (
        tot.join(ex, "event_type")
        .withColumn("est_hll", est_col)
    )
    return est.select(
        "event_type",
        F.col("m").cast("long").alias("m"),
        "registers_hit",
        "est_hll",
        "n_exact",
        F.expr(
            "CAST(floor(abs(est_hll - n_exact) * 1000000.0"
            " / CAST(n_exact AS DOUBLE)) AS BIGINT)"
        ).alias("err_ppm"),
    )


# --- Bloom filter false-positive-rate sweep ---------------------------------

# two filter sizes from one hash pass; k = 3 Carter-Wegman mixes over the
# 32-bit md5 prefix (the dedup-suite universal-hash family, fixed seeds).
_BLOOM_MS = [1024, 8192]
_BLOOM_P = 4294967311
# a < 2^31 keeps a*h < 2^63 for the 32-bit hv — no BIGINT overflow in
# either engine (the dedup-suite bound)
_BLOOM_AB = [(1202734393, 196611197), (1860486313, 904488487),
             (1299729989, 613651349)]

# first 8 md5 nibbles as a 32-bit integer (instr-based nibble math over a
# column aliased hh — DuckDB has no hex->int conv())
_DUCK_HV32 = " + ".join(
    f"CAST({_nib_sql(i)} AS BIGINT) * {16 ** (8 - i)}" for i in range(1, 9)
)


@register(
    "bloom_fpr_sweep",
    oracle=f"""
    , tp AS (SELECT DISTINCT topic FROM messages),
    keys AS (
        SELECT topic AS k, 1 AS is_member FROM tp
        UNION ALL
        SELECT topic || '?' AS k, 0 AS is_member FROM tp
    ),
    hv AS (
        SELECT k, is_member, {_DUCK_HV32} AS h
        FROM (SELECT k, is_member, md5(k) AS hh FROM keys)
    ),
    cfg AS (SELECT * FROM (VALUES {", ".join(f"({m})" for m in _BLOOM_MS)}) AS t(m)),
    pos AS (
        {" UNION ALL ".join(
            f"SELECT k, is_member, m, {i} AS i,"
            f" (({a} * h + {b}) % {_BLOOM_P}) % m AS pos"
            " FROM hv CROSS JOIN cfg"
            for i, (a, b) in enumerate(_BLOOM_AB)
        )}
    ),
    mset AS MATERIALIZED (
        SELECT DISTINCT m, pos FROM pos WHERE is_member = 1
    ),
    probe AS (
        SELECT p.m, p.k,
               count(DISTINCT p.i) AS k_total,
               count(DISTINCT CASE WHEN s.pos IS NOT NULL THEN p.i END)
                   AS k_hit
        FROM pos p
        LEFT JOIN mset s ON s.m = p.m AND s.pos = p.pos
        WHERE p.is_member = 0
        GROUP BY p.m, p.k
    ),
    mem AS (
        SELECT m, CAST(count(*) AS BIGINT) AS n_positions_set FROM mset
        GROUP BY m
    ),
    nmem AS (
        SELECT CAST(count(*) AS BIGINT) AS n_members FROM tp
    )
    SELECT CAST(p.m AS BIGINT) AS m,
           (SELECT n_members FROM nmem) AS n_members,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN k_hit = k_total THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_positives,
           CAST(sum(CASE WHEN k_hit = k_total THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS fpr_ppm,
           mem.n_positions_set,
           CAST(mem.n_positions_set * 1000000 // p.m AS BIGINT)
               AS fill_ppm
    FROM probe p JOIN mem ON mem.m = p.m
    GROUP BY p.m, mem.n_positions_set
    """,
    doc="Bloom-filter sizing sweep: build k=3 filters of m=1024 and "
    "8192 bits over the full topic set, probe with derived keys "
    "(topic || '?' — guaranteed non-members, since '?' never occurs "
    "in a topic) and report the observed false-positive rate and "
    "bit-fill per size — the measured counterpart of the "
    "(1-e^(-kn/m))^k design formula, and the empirical basis for "
    "sizing a runtime Bloom filter.  Hashes are the "
    "dedup-suite Carter-Wegman mixes over the shared 32-bit md5 "
    "prefix (a < 2^31 bounds a*h under 2^63 — no overflow either "
    "engine), so both engines set identical bits; membership is a "
    "DISTINCT (m, position) set (the filter itself, materialized "
    "once), probing is one hash left-join counting matched "
    "positions per key.  Topic-dimension-sized throughout.",
    tags=("sketches", "eval"),
)
def bloom_fpr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    msg = messages(spark, sf_dir)
    tp = msg.select("topic").distinct()
    keys = tp.select(
        F.col("topic").alias("k"), F.lit(1).alias("is_member")
    ).unionAll(
        tp.select(
            F.concat(F.col("topic"), F.lit("?")).alias("k"),
            F.lit(0).alias("is_member"),
        )
    )
    hv = keys.select(
        "k",
        "is_member",
        F.conv(F.substring(F.md5("k"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    cfg = spark.createDataFrame([(m,) for m in _BLOOM_MS], "m INT")
    hashed = hv.crossJoin(F.broadcast(cfg))
    pos = None
    for i, (a, b) in enumerate(_BLOOM_AB):
        part = hashed.select(
            "k",
            "is_member",
            "m",
            F.lit(i).alias("i"),
            F.expr(f"(({a} * h + {b}) % {_BLOOM_P}) % m").alias("pos"),
        )
        pos = part if pos is None else pos.unionAll(part)
    pos = pos.transform(snapshot, eager=False)
    mset = (
        pos.filter(F.col("is_member") == 1).select("m", "pos").distinct()
    ).transform(snapshot, eager=False)
    probe = (
        pos.filter(F.col("is_member") == 0)
        .alias("p")
        .join(
            mset.alias("s"),
            F.expr("s.m = p.m AND s.pos = p.pos"),
            "left",
        )
        .groupBy("p.m", "p.k")
        .agg(
            F.countDistinct("p.i").alias("k_total"),
            F.countDistinct(
                F.when(F.col("s.pos").isNotNull(), F.col("p.i"))
            ).alias("k_hit"),
        )
    )
    mem = mset.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_positions_set")
    )
    nmem = tp.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    return (
        probe.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum(
                F.when(F.col("k_hit") == F.col("k_total"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_positives"),
        )
        .join(F.broadcast(mem), "m")
        .crossJoin(F.broadcast(nmem))
        .select(
            F.col("m").cast("long").alias("m"),
            "n_members",
            "n_probes",
            "n_false_positives",
            F.expr(
                "CAST(n_false_positives * 1000000 DIV n_probes AS BIGINT)"
            ).alias("fpr_ppm"),
            "n_positions_set",
            F.expr(
                "CAST(n_positions_set * 1000000 DIV m AS BIGINT)"
            ).alias("fill_ppm"),
        )
    )


# --- Count-Min sketch width sweep -------------------------------------------

_CMS_WIDTHS = [256, 1024]


@register(
    "cms_width_sweep",
    oracle=f"""
    , kc AS (
        SELECT topic, CAST(count(*) AS BIGINT) AS cnt FROM messages
        GROUP BY topic
    ),
    hv AS (
        SELECT topic, cnt, {_DUCK_HV32} AS h
        FROM (SELECT topic, cnt, md5(topic) AS hh FROM kc)
    ),
    cfg AS (SELECT * FROM (VALUES {", ".join(f"({w})" for w in _CMS_WIDTHS)}) AS t(w)),
    pos AS (
        {" UNION ALL ".join(
            f"SELECT topic, cnt, w, {r} AS r,"
            f" (({a} * h + {b}) % {_BLOOM_P}) % w AS pos"
            " FROM hv CROSS JOIN cfg"
            for r, (a, b) in enumerate(_BLOOM_AB)
        )}
    ),
    counters AS MATERIALIZED (
        SELECT w, r, pos, CAST(sum(cnt) AS BIGINT) AS c
        FROM pos GROUP BY w, r, pos
    ),
    est AS (
        SELECT p.w, p.topic, max(p.cnt) AS cnt,
               min(c.c) AS est
        FROM pos p
        JOIN counters c ON c.w = p.w AND c.r = p.r AND c.pos = p.pos
        GROUP BY p.w, p.topic
    )
    SELECT CAST(w AS BIGINT) AS w,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN est = cnt THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS exact_ppm,
           CAST(sum(est - cnt) * 100 // count(*) AS BIGINT)
               AS mean_overestimate_x100,
           CAST(max(est - cnt) AS BIGINT) AS max_overestimate
    FROM est GROUP BY w
    """,
    doc="Count-Min sketch sizing sweep: depth-3 sketches of width 256 "
    "and 1024 built over per-topic message counts from ONE hash "
    "pass, then every key's estimate (min over rows) compared to "
    "its exact count — the measured overestimate-vs-memory trade "
    "behind count_min_topic_freq's fixed configuration (theory: "
    "error <= e*N/w with prob 1-e^-depth; the sweep shows the "
    "actual bias on this key distribution).  Hashes are the shared "
    "Carter-Wegman family over the 32-bit md5 prefix, so both "
    "engines build bit-identical counter arrays; the counter "
    "relation is the mergeable sketch state itself (sum-combinable "
    "per (row, position), exactly like the HLL registers).",
    tags=("sketches", "eval"),
)
def cms_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    msg = messages(spark, sf_dir)
    kc = msg.groupBy("topic").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    hv = kc.select(
        "topic",
        "cnt",
        F.conv(F.substring(F.md5("topic"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    cfg = spark.createDataFrame([(w,) for w in _CMS_WIDTHS], "w INT")
    hashed = hv.crossJoin(F.broadcast(cfg))
    pos = None
    for r, (a, b) in enumerate(_BLOOM_AB):
        part = hashed.select(
            "topic",
            "cnt",
            "w",
            F.lit(r).alias("r"),
            F.expr(f"(({a} * h + {b}) % {_BLOOM_P}) % w").alias("pos"),
        )
        pos = part if pos is None else pos.unionAll(part)
    pos = pos.transform(snapshot, eager=False)
    counters = pos.groupBy("w", "r", "pos").agg(
        F.sum("cnt").cast("long").alias("c")
    )
    est = (
        pos.alias("p")
        .join(
            counters.alias("c"),
            F.expr("c.w = p.w AND c.r = p.r AND c.pos = p.pos"),
        )
        .groupBy("p.w", "p.topic")
        .agg(
            F.max("p.cnt").alias("cnt"),
            F.min("c.c").alias("est"),
        )
    )
    return est.groupBy(F.col("w").cast("long").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.expr(
            "CAST(sum(CASE WHEN est = cnt THEN 1 ELSE 0 END) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("exact_ppm"),
        F.expr(
            "CAST(sum(est - cnt) * 100 DIV count(*) AS BIGINT)"
        ).alias("mean_overestimate_x100"),
        F.max(F.col("est") - F.col("cnt")).cast("long").alias(
            "max_overestimate"
        ),
    )


# --- AMS second-frequency-moment estimate -----------------------------------

# four independent +/-1 sign hashes (Carter-Wegman mixes over the shared
# 32-bit md5 prefix; a < 2^31 keeps a*h < 2^63); each estimator is the
# SQUARE of an exact integer signed sum, the final estimate their mean.
_AMS_AB = [(1202734393, 196611197), (1860486313, 904488487),
           (1299729989, 613651349), (1431655765, 99491203)]


@register(
    "ams_f2_estimate",
    oracle=f"""
    , kc AS (
        SELECT topic, CAST(count(*) AS BIGINT) AS f FROM messages
        GROUP BY topic
    ),
    hv AS (
        SELECT topic, f, {_DUCK_HV32} AS h
        FROM (SELECT topic, f, md5(topic) AS hh FROM kc)
    ),
    sk AS (
        SELECT
            {", ".join(
                f"CAST(sum((((({a} * h + {b}) % {_BLOOM_P}) % 2) * 2 - 1) * f)"
                f" AS BIGINT) AS z{r}"
                for r, (a, b) in enumerate(_AMS_AB)
            )},
            CAST(sum(CAST(f AS HUGEINT) * f) AS BIGINT) AS f2_exact,
            CAST(count(*) AS BIGINT) AS n_keys
        FROM hv
    )
    SELECT n_keys, f2_exact,
           CAST(({" + ".join(f"CAST(z{r} AS HUGEINT) * z{r}" for r in range(len(_AMS_AB)))})
                // {len(_AMS_AB)} AS BIGINT) AS f2_estimate,
           CAST(abs(({" + ".join(f"CAST(z{r} AS HUGEINT) * z{r}" for r in range(len(_AMS_AB)))})
                // {len(_AMS_AB)} - f2_exact) * 1000000
                // f2_exact AS BIGINT) AS err_ppm
    FROM sk
    """,
    doc="Alon-Matias-Szegedy F2 (second frequency moment / repeat "
    "rate / self-join size) estimate over per-topic message counts, "
    "read against the exact sum(f^2) — completing the "
    "frequency-moment sketch family (F0 = HLL, heavy hitters = "
    "Count-Min, F2 = AMS) with the same cross-engine-deterministic "
    "construction: each of 4 estimators is the square of an exact "
    "integer sum of +/-1-signed counts (sign = parity of a "
    "Carter-Wegman mix), the estimate their integer mean — the "
    "sketch state is 4 BIGINTs, mergeable by addition, which is "
    "what makes AMS the streaming answer to 'how skewed is this "
    "key distribution' (F2/F1^2 drives join-size estimates).  One "
    "rollup + one single-row fold.",
    tags=("sketches", "eval"),
)
def ams_f2_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    msg = messages(spark, sf_dir)
    kc = msg.groupBy("topic").agg(F.count(F.lit(1)).cast("long").alias("f"))
    hv = kc.select(
        "f",
        F.conv(F.substring(F.md5("topic"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    aggs = [
        F.sum(
            F.expr(f"((({a} * h + {b}) % {_BLOOM_P}) % 2 * 2 - 1) * f")
        ).cast("long").alias(f"z{r}")
        for r, (a, b) in enumerate(_AMS_AB)
    ]
    sk = hv.agg(
        *aggs,
        F.sum(F.expr("CAST(f AS DECIMAL(38,0)) * f")).cast("long").alias(
            "f2_exact"
        ),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    sq = " + ".join(
        f"CAST(z{r} AS DECIMAL(38,0)) * z{r}" for r in range(len(_AMS_AB))
    )
    return sk.select(
        "n_keys",
        "f2_exact",
        F.expr(
            f"CAST(({sq}) div {len(_AMS_AB)} AS BIGINT)"
        ).alias("f2_estimate"),
        F.expr(
            f"CAST(abs(({sq}) div {len(_AMS_AB)} - f2_exact) * 1000000"
            " div f2_exact AS BIGINT)"
        ).alias("err_ppm"),
    )
