"""Time-series operators over the mqtt-shaped `messages` stream — the
hypertable-style surface the reference's history table implies but never
queries: regular-grid downsampling with gap fill, and banded range
self-joins.

The reference stores an irregular append log keyed by topic
(/root/reference/mysql.sql:55-64) and its README's example queries slice
it by topic + time range (/root/reference/README.md:228-235); these
operators are the natural analytical extension of that log (continuous
aggregate / LOCF gap fill, TimescaleDB-style) expressed Spark-first.

Scale design:
  * the observation grid is built per topic from that topic's own
    [min, max] span via `sequence` + explode — no driver-side loop, no
    global calendar table, and the explode fan-out is bounded by
    span/bucket, not by row count;
  * LOCF is one `last(ignorenulls)` running window per topic — a single
    shuffle by topic, which at 100 TB is the history table's natural
    partitioning key anyway;
  * the range self-join shuffles on (user, time-bucket) — an equi-join
    on a bounded-fanout composite key (each left row probes exactly two
    buckets) instead of the O(n²)-per-user inequality join a naive
    formulation (and the DuckDB oracle, via IEJoin) performs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.materialize import snapshot
from mqtt2sql_spark.fixtures import load_table, messages
from mqtt2sql_spark.plans.base import register

BAND_US = 6 * 3600 * 1_000_000  # range-join band: 6 hours, in microseconds


# --- daily downsample + LOCF gap fill --------------------------------------


@register(
    "gap_fill_locf",
    bench=True,
    oracle="""
    , obs AS (
        SELECT topic, h, close FROM (
            SELECT topic, date_trunc('day', ts) AS h, value_str AS close,
                   row_number() OVER (
                       PARTITION BY topic, date_trunc('day', ts)
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM messages
        ) WHERE rn = 1
    ),
    grid AS (
        SELECT topic, unnest(generate_series(min(h), max(h),
                                             INTERVAL 1 DAY)) AS h
        FROM obs GROUP BY topic
    )
    SELECT g.topic, g.h,
           last_value(o.close IGNORE NULLS) OVER (
               PARTITION BY g.topic ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_locf,
           o.close IS NOT NULL AS observed
    FROM grid g LEFT JOIN obs o ON o.topic = g.topic AND o.h = g.h
    """,
    doc="Hypertable-style downsample + gap fill: per (topic, day) keep "
    "the last observation (total order ts, event_id), build each "
    "topic's dense daily grid with sequence+explode, and forward-fill "
    "missing days with last(ignorenulls) — last-observation-carried-"
    "forward.  One shuffle by topic end to end; the grid never "
    "materializes a global calendar.",
)
def gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    msg = messages(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    w_last = W.partitionBy("topic", "h").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    obs = (
        msg.select(
            "topic",
            day.alias("h"),
            "ts",
            "event_id",
            F.col("value").cast("string").alias("value_str"),
        )
        .withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("topic", "h", F.col("value_str").alias("close"))
    )
    grid = (
        obs.groupBy("topic")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "topic",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 day"))
            ).alias("h"),
        )
    )
    w_fill = W.partitionBy("topic").orderBy("h").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return grid.join(obs, ["topic", "h"], "left").select(
        "topic",
        "h",
        F.last("close", ignorenulls=True).over(w_fill).alias("value_locf"),
        F.col("close").isNotNull().alias("observed"),
    )


# --- banded range self-join via time buckets --------------------------------


@register(
    "range_join_bucketed",
    oracle=f"""
    SELECT x.user_id, x.event_id AS src_event, y.event_id AS dst_event,
           epoch_us(y.ts) - epoch_us(x.ts) AS gap_us
    FROM events x JOIN events y ON x.user_id = y.user_id
    WHERE (epoch_us(y.ts) - epoch_us(x.ts) > 0
           OR (epoch_us(y.ts) = epoch_us(x.ts)
               AND y.event_id > x.event_id))
      AND epoch_us(y.ts) - epoch_us(x.ts) <= {BAND_US}
    """,
    doc="Banded range self-join (event pairs per user within 6 h, "
    "ordered by the total order ts,event_id): the scale path buckets "
    "time into band-width cells and equi-joins on (user_id, bucket) "
    "with each left row probing its own and the next bucket — shuffle "
    "fan-out is 2× rows, and per-key compare cost is bounded by bucket "
    "occupancy instead of the per-user O(n²) a raw inequality join "
    "(which the DuckDB oracle runs, via IEJoin) pays.",
)
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    bkt = (F.col("us") / F.lit(BAND_US)).cast("long")  # us ≥ 0 ⇒ floor
    y = ev.select(
        F.col("user_id").alias("y_user"),
        F.col("event_id").alias("dst_event"),
        F.col("us").alias("y_us"),
        bkt.alias("y_bkt"),
    )
    x = ev.select(
        "user_id",
        F.col("event_id").alias("src_event"),
        F.col("us").alias("x_us"),
        F.explode(F.array(bkt, bkt + 1)).alias("probe_bkt"),
    )
    gap = F.col("y_us") - F.col("x_us")
    return (
        x.join(
            y,
            (F.col("user_id") == F.col("y_user"))
            & (F.col("probe_bkt") == F.col("y_bkt")),
        )
        .filter(
            (
                (gap > 0)
                | ((gap == 0) & (F.col("dst_event") > F.col("src_event")))
            )
            & (gap <= BAND_US)
        )
        .select(
            "user_id", "src_event", "dst_event", gap.alias("gap_us")
        )
    )


# --- OHLC-style hourly downsampling ----------------------------------------


@register(
    "events_ohlc_hourly",
    oracle="""
    , o AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
               value,
               row_number() OVER (PARTITION BY event_type,
                                               date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type,
                                               date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, hour,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_events
    FROM o GROUP BY event_type, hour
    """,
    doc="OHLC downsampling (the metrics-rollup a time-series store runs "
    "continuously): per (series, hour) the first, max, min and last "
    "value plus the sample count.  Open/close come from total-order "
    "ranking windows — (ts, event_id) ties broken deterministically — "
    "and high/low/count are plain aggregates; the windows and the "
    "rollup share one (event_type, hour) shuffle.  No float arithmetic "
    "at all: every output is a SELECTED input value, so cross-engine "
    "parity is exact by construction.",
)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    wa = W.partitionBy("event_type", hour).orderBy("ts", "event_id")
    wd = W.partitionBy("event_type", hour).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    o = ev.select(
        "event_type",
        hour.alias("hour"),
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return o.groupBy("event_type", "hour").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- min-max downsampling ---------------------------------------------------


@register(
    "events_minmax_downsample",
    oracle="""
    , ranked AS (
        SELECT event_type, event_id, ts, value,
               epoch_us(ts) // 21600000000 AS bkt,
               row_number() OVER (
                   PARTITION BY event_type, epoch_us(ts) // 21600000000
                   ORDER BY value, event_id) AS rn_min,
               row_number() OVER (
                   PARTITION BY event_type, epoch_us(ts) // 21600000000
                   ORDER BY value DESC, event_id) AS rn_max
        FROM events
    )
    SELECT event_type, CAST(bkt AS BIGINT) AS bkt, event_id, ts,
           round(value, 4) AS value,
           CASE WHEN rn_min = 1 AND rn_max = 1 THEN 'both'
                WHEN rn_min = 1 THEN 'min' ELSE 'max' END AS extreme
    FROM ranked WHERE rn_min = 1 OR rn_max = 1
    """,
    doc="Min-max downsampling — the monitoring-system render path "
    "(Grafana-style): per (series, 6 h bucket) keep only the extreme "
    "points, preserving the envelope a chart draws while shrinking a "
    "100 TB series by orders of magnitude.  min_by/max_by with a "
    "composite (value, ±event_id) argument gives total-order "
    "tie-breaks (the smallest event id witnesses both extremes) "
    "so both engines pick the same witness row.  One partial-agg "
    "shuffle on (series, bucket) finds the extreme ids; the self-join "
    "back rides the same key.  The value column renders rounded on "
    "both sides; selection itself uses the raw double identically.",
)
def events_minmax_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucketed = ev.select(
        "event_type",
        "event_id",
        "ts",
        "value",
        F.expr("unix_micros(ts) DIV 21600000000").alias("bkt"),
    )
    extremes = bucketed.groupBy("event_type", "bkt").agg(
        F.expr("min_by(event_id, struct(value, event_id))").alias("min_eid"),
        F.expr("max_by(event_id, struct(value, -event_id))").alias("max_eid"),
    )
    b = bucketed.alias("b")
    e = extremes.alias("e")
    return (
        b.join(
            e,
            (F.col("b.event_type") == F.col("e.event_type"))
            & (F.col("b.bkt") == F.col("e.bkt"))
            & (
                (F.col("b.event_id") == F.col("e.min_eid"))
                | (F.col("b.event_id") == F.col("e.max_eid"))
            ),
        )
        .select(
            F.col("b.event_type").alias("event_type"),
            F.col("b.bkt").cast("long").alias("bkt"),
            F.col("b.event_id").alias("event_id"),
            F.col("b.ts").alias("ts"),
            F.round("b.value", 4).alias("value"),
            F.when(
                (F.col("b.event_id") == F.col("e.min_eid"))
                & (F.col("b.event_id") == F.col("e.max_eid")),
                "both",
            )
            .when(F.col("b.event_id") == F.col("e.min_eid"), "min")
            .otherwise("max")
            .alias("extreme"),
        )
    )


# --- exact distributed linear regression (trend) ----------------------------

# Fixture events span Jan 2024; day index is relative to this literal so the
# x values are small exact integers (slope is shift-invariant, so any origin
# inside the data range gives the same slope).
TREND_ORIGIN = "2024-01-01"


@register(
    "linreg_trend_stats",
    oracle=f"""
    , xy AS (
        SELECT event_type,
               CAST(datediff('day', DATE '{TREND_ORIGIN}', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(round(value * 100, 0) AS BIGINT) AS y
        FROM events
    ), s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sum_x,
               CAST(sum(y) AS BIGINT) AS sum_y_cents,
               CAST(sum(x * y) AS BIGINT) AS sum_xy,
               CAST(sum(x * x) AS BIGINT) AS sum_x2
        FROM xy GROUP BY event_type
    )
    SELECT event_type, n, sum_x, sum_y_cents, sum_xy, sum_x2,
           CAST(n * sum_xy - sum_x * sum_y_cents AS BIGINT) AS slope_num,
           CAST(n * sum_x2 - sum_x * sum_x AS BIGINT) AS slope_den
    FROM s
    """,
    doc="Distributed exact least-squares trend per series: the five "
    "sufficient statistics (n, Σx, Σy, Σxy, Σx²) plus the slope as an "
    "exact integer numerator/denominator pair "
    "(slope = slope_num/slope_den cents/day).  x is the day index from a "
    "fixed origin (slope is shift-invariant), y is the value quantized "
    "to integer cents, so every aggregate is an exact BIGINT sum — "
    "summation order cannot perturb the result on either engine, and "
    "the division is left to the consumer so no float ever enters the "
    "compared surface.  Scale: one partial-agg shuffle on the series "
    "key; the sums are mergeable, so this is the streaming/ "
    "incremental-friendly form (at petabyte row counts upgrade the "
    "products to DECIMAL(38,0) — the plan shape is unchanged).",
)
def linreg_trend_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    xy = ev.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit(TREND_ORIGIN).cast("date"))
        .cast("long")
        .alias("x"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    s = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y_cents"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
    )
    return s.select(
        "event_type",
        "n",
        "sum_x",
        "sum_y_cents",
        "sum_xy",
        "sum_x2",
        (F.col("n") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y_cents"))
        .cast("long")
        .alias("slope_num"),
        (F.col("n") * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x"))
        .cast("long")
        .alias("slope_den"),
    )


# --- rolling median (robust smoothing) --------------------------------------


@register(
    "rolling_median_value",
    oracle="""
    SELECT event_type, event_id, ts,
           CAST(round(value * 100, 0) AS BIGINT) AS cents,
           CAST(2 * median(CAST(round(value * 100, 0) AS BIGINT)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS med_cents_x2,
           CAST(count(*) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_frame
    FROM events
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
    """,
    doc="Rolling 7-point median per series — the robust-smoothing pass a "
    "monitoring pipeline runs before alerting (median shrugs off the "
    "spikes a moving average chases).  Exact percentile over a row "
    "frame: values are integer cents, both engines interpolate the "
    "even-count midpoint as the mean of the two middle values, and the "
    "surface is DOUBLED into med_cents_x2 so the compared column is an "
    "exact BIGINT (2·median of integers is always integral — no float "
    "ever reaches the gate, the map_funcs r01 lesson).  The frame "
    "is ordered by (ts, event_id) — a total order, so frame contents "
    "are identical cross-engine.  Scale: one shuffle on the series key; "
    "the 7-row frame is O(1) state per row in Spark's running-window "
    "evaluation regardless of partition length.  The date filter is "
    "pushed to the parquet scan (bench the envelope, not the firehose).",
)
def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp")
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    return ev.select(
        "event_type",
        "event_id",
        "ts",
        cents.alias("cents"),
        (
            F.expr(
                "percentile(CAST(round(value * 100, 0) AS BIGINT), 0.5)"
            ).over(w)
            * 2
        )
        .cast("long")
        .alias("med_cents_x2"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_frame"),
    )


# --- hourly activity bitmask (bitmap rollup) --------------------------------


@register(
    "activity_bitmask_daily",
    oracle="""
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(bit_or(CAST(1 AS BIGINT) << CAST(hour(ts) AS INTEGER))
                AS BIGINT) AS hour_mask,
           CAST(count(DISTINCT hour(ts)) AS BIGINT) AS active_hours,
           count(*) AS n_events
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    """,
    doc="Daily hour-of-day activity bitmap per series: bit_or folds each "
    "event into a 24-bit presence mask (bit h set ⇔ ≥1 event in hour "
    "h), the roaring-bitmap-style rollup an observability store keeps "
    "per series-day.  Bitwise OR is commutative/associative/idempotent "
    "→ perfectly mergeable partial aggregation, exact under any "
    "summation order, and 8 bytes of state per group no matter how "
    "many events fold in — the ideal 100 TB rollup shape.  One "
    "partial-agg shuffle on (series, day).",
)
def activity_bitmask_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(hour(ts) AS INT)))"
            )
            .cast("long")
            .alias("hour_mask"),
            F.countDistinct(F.hour("ts")).cast("long").alias("active_hours"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- autocorrelation components (seasonality detector) ----------------------

ACF_LAGS = (1, 24)  # hours: adjacent-hour persistence and daily seasonality


@register(
    "hourly_autocorr_stats",
    oracle=f"""
    , hourly AS (
        SELECT event_type,
               epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT a.event_type, l.lag, a.c AS x, b.c AS y
        FROM hourly a
        CROSS JOIN (SELECT unnest([{", ".join(str(x) for x in ACF_LAGS)}])
                    AS lag) l
        JOIN hourly b ON b.event_type = a.event_type
                     AND b.h = a.h + l.lag
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(sum(x * y) AS BIGINT) AS sum_xy,
           CAST(sum(x * x) AS BIGINT) AS sum_x2,
           CAST(sum(y * y) AS BIGINT) AS sum_y2
    FROM lagged GROUP BY event_type, lag
    """,
    doc="Autocorrelation sufficient statistics of the per-hour event-count "
    "series at lags 1 h and 24 h — the seasonality detector: "
    "r(L) = (n·Σxy − Σx·Σy)/√((n·Σx²−Σx²)(n·Σy²−Σy²)) computed "
    "consumer-side from the six exact BIGINT sums emitted here (same "
    "no-float-on-the-surface discipline as linreg_trend_stats / "
    "event_type_daily_corr).  The lag join is an equi-join on "
    "(series, hour+L) over the already-aggregated hourly rollup — "
    "|series|·|hours| rows, not events — so a year of 100 TB telemetry "
    "reduces to 8 760 rows per series before any pairing.  "
    "All-integer surface.",
)
def hourly_autocorr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(date_trunc('hour', ts)) DIV 3600000000"
        ).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c")).transform(snapshot, eager=False)
    lags = F.explode(
        F.array(*[F.lit(x) for x in ACF_LAGS])
    ).alias("lag")
    a = hourly.select("event_type", "h", F.col("c").alias("x"), lags)
    b = hourly.select(
        F.col("event_type").alias("b_type"),
        F.col("h").alias("b_h"),
        F.col("c").alias("y"),
    )
    lagged = a.join(
        b,
        (F.col("b_type") == F.col("event_type"))
        & (F.col("b_h") == F.col("h") + F.col("lag")),
    )
    return lagged.groupBy(
        "event_type", F.col("lag").cast("long").alias("lag")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sum_y2"),
    )


# --- exponentially time-decayed engagement ---------------------------------

# Half-life 2 weeks, bucketed to whole weeks of age.  The per-bucket
# weight floor(1e6 * 2^(-w/2)) is precomputed in PYTHON and embedded as
# identical integer literals on both engines (the CLAUDE.md LIBM rule:
# cross-engine pow()/exp() differ by 1 ulp on some inputs; integer
# literals cannot).  Weights hit 0 once the shift exhausts 1e6.

# floor(2^-0.5 * 2^60) via integer sqrt — exact, no float involved
_INV_SQRT2_Q60 = 815238614083298888  # math.isqrt(2**119)


def _decay_table() -> tuple[int, ...]:
    out = []
    w = 0
    while True:
        # floor(1e6 * 2^(-w/2)) in exact integer arithmetic: for even w
        # it is 1e6 >> (w/2); for odd w multiply by floor(2^-0.5 * 2^60).
        if w % 2 == 0:
            ppm = 1000000 >> (w // 2)
        else:
            ppm = (1000000 * _INV_SQRT2_Q60) >> (60 + w // 2)
        if ppm <= 0:
            return tuple(out)
        out.append(ppm)
        w += 1


_DECAY_WEEK_PPM = _decay_table()
_DECAY_CASE = (
    "CASE "
    + " ".join(
        f"WHEN age_w = {w} THEN {p}" for w, p in enumerate(_DECAY_WEEK_PPM)
    )
    + " ELSE 0 END"
)


@register(
    "decayed_engagement_by_type",
    oracle=f"""
    , anchor AS (SELECT CAST(max(ts) AS DATE) AS d0 FROM events),
    aged AS (
        SELECT event_type,
               CAST(round(value * 100, 0) AS BIGINT) AS cents,
               datediff('day', CAST(ts AS DATE), (SELECT d0 FROM anchor))
                   // 7 AS age_w
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(floor(sum(CAST(cents * ({_DECAY_CASE})
                               AS DECIMAL(38, 0))) / 1000000)
                AS BIGINT) AS decayed_cents
    FROM aged GROUP BY event_type
    """,
    doc="Exponentially time-decayed engagement score per event type "
    "(half-life 2 weeks, week-granular age buckets) — the freshness- "
    "weighted leaderboard shape behind trending/ranking features.  "
    "The decay curve is a Python-precomputed integer ppm lookup "
    "embedded as the SAME generated CASE text on both engines, so no "
    "transcendental is ever evaluated engine-side; per-event money is "
    "quantized to exact cents, weighted in integer ppm, summed as "
    "DECIMAL(38,0) (a 100 TB-safe accumulator — BIGINT would overflow "
    "at ~1e8 events/group), and floor-divided back to cents.  Plan: "
    "scan → tiny broadcast anchor (max ts) → partial+final hash agg "
    "on a low-cardinality key; fully distributive.",
)
def decayed_engagement_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("d0"))
    aged = ev.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
        F.expr("datediff(d0, CAST(ts AS DATE)) DIV 7").alias("age_w"),
    )
    weighted = aged.select(
        "event_type",
        F.expr(f"CAST(cents * ({_DECAY_CASE}) AS DECIMAL(38, 0))").alias("wv"),
    )
    return weighted.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("CAST(floor(sum(wv) / 1000000) AS BIGINT)").alias(
            "decayed_cents"
        ),
    )


# --- day-of-week × hour seasonality profile --------------------------------


@register(
    "dow_hour_profile",
    oracle="""
    , cells AS (
        SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT dow, hr, n,
           CAST(sum(n) OVER (PARTITION BY dow) AS BIGINT) AS dow_total,
           CAST(sum(n) OVER (PARTITION BY hr) AS BIGINT) AS hr_total,
           CAST(sum(n) OVER () AS BIGINT) AS total,
           CAST(n * sum(n) OVER () * 1000000
                // (sum(n) OVER (PARTITION BY dow)
                    * sum(n) OVER (PARTITION BY hr)) AS BIGINT) AS lift_ppm
    FROM cells
    """,
    doc="Weekly seasonality heatmap: event counts per (day-of-week, "
    "hour-of-day) cell with the independence lift n·N/(row·col) in "
    "exact integer ppm — the load-profile readout behind capacity "
    "planning and anomaly baselines.  One distributive count over the "
    "fact table collapses 100 TB to ≤168 cells; the marginal windows "
    "run over that tiny aggregate only (the documented tiny-window "
    "pattern).  Day numbering pinned to 0=Sunday on both engines "
    "(Spark dayofweek() is 1-based).  All-integer surface.",
)
def dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_dow = W.partitionBy("dow")
    w_hr = W.partitionBy("hr")
    w_all = W.partitionBy()
    return cells.select(
        "dow",
        "hr",
        "n",
        F.sum("n").over(w_dow).cast("long").alias("dow_total"),
        F.sum("n").over(w_hr).cast("long").alias("hr_total"),
        F.sum("n").over(w_all).cast("long").alias("total"),
        F.expr(
            "CAST(n * sum(n) OVER () * 1000000 DIV "
            "(sum(n) OVER (PARTITION BY dow) * sum(n) OVER (PARTITION BY hr)) "
            "AS BIGINT)"
        ).alias("lift_ppm"),
    )


# --- survival table (Kaplan-Meier sufficient statistics) --------------------

_SURV_CENSOR_DAYS = 7  # active within N days of corpus end → censored


@register(
    "survival_table_user_lifetime",
    oracle=f"""
    , anchor2 AS (SELECT CAST(max(ts) AS DATE) AS d1 FROM events),
    life AS (
        SELECT user_id,
               datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
                   AS dur,
               CASE WHEN datediff('day', CAST(max(ts) AS DATE),
                                  (SELECT d1 FROM anchor2))
                         < {_SURV_CENSOR_DAYS}
                    THEN 1 ELSE 0 END AS censored
        FROM events GROUP BY user_id
    ),
    surv_tot AS (SELECT count(*) AS n_users FROM life),
    pts AS (
        SELECT dur,
               sum(1 - censored) AS n_events,
               sum(censored) AS n_censored
        FROM life GROUP BY dur
    )
    SELECT CAST(dur AS BIGINT) AS dur_days,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_censored AS BIGINT) AS n_censored,
           CAST((SELECT n_users FROM surv_tot)
                - coalesce(sum(n_events + n_censored) OVER (
                      ORDER BY dur
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_at_risk
    FROM pts
    """,
    doc="Survival table over user lifetimes (first→last event span, "
    "right-censored when the user is still active within "
    f"{_SURV_CENSOR_DAYS} days of corpus end) — the Kaplan-Meier / "
    "churn-analysis input: per distinct lifetime, deaths, censorings "
    "and the at-risk count just before that time.  The estimator "
    "S(t) = Π(1 − d_i/n_i) is a product of rationals, so the exact "
    "integer TABLE is the compared surface and the product stays "
    "consumer-side.  One per-user aggregate (distributes on "
    "user_id), a tiny distinct-lifetime rollup, and the at-risk "
    "prefix over ≤ a-few-hundred rows (documented tiny-window "
    "pattern).  All-integer surface.",
)
def survival_table_user_lifetime(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("d1"))
    life = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_d"),
            F.max(F.col("ts").cast("date")).alias("last_d"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.datediff("last_d", "first_d").alias("dur_days"),
            F.when(
                F.datediff("d1", "last_d") < _SURV_CENSOR_DAYS, 1
            )
            .otherwise(0)
            .alias("censored"),
        )
    )
    tot = life.agg(F.count(F.lit(1)).alias("n_users"))
    pts = life.groupBy("dur_days").agg(
        F.sum(1 - F.col("censored")).alias("n_events"),
        F.sum("censored").alias("n_censored"),
    )
    # days-grain window: bounded by the corpus calendar span
    w = W.orderBy("dur_days").rowsBetween(W.unboundedPreceding, -1)
    return (
        pts.crossJoin(F.broadcast(tot))
        .select(
            F.col("dur_days").cast("long").alias("dur_days"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_censored").cast("long").alias("n_censored"),
            (
                F.col("n_users")
                - F.coalesce(
                    F.sum(F.col("n_events") + F.col("n_censored")).over(w),
                    F.lit(0),
                )
            )
            .cast("long")
            .alias("n_at_risk"),
        )
    )


@register(
    "seasonal_naive_forecast",
    oracle="""
    , daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    scored AS (
        SELECT a.event_type, a.n,
               abs(a.n - s.n) AS err7,
               abs(a.n - p.n) AS err1
        FROM daily a
        JOIN daily s ON s.event_type = a.event_type
                    AND s.day = a.day - 7
        JOIN daily p ON p.event_type = a.event_type
                    AND p.day = a.day - 1
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS days_scored,
           CAST(sum(err7) AS BIGINT) AS total_abs_err7,
           CAST(sum(err1) AS BIGINT) AS total_abs_err1,
           CAST(sum(err7) * 1000000 // count(*) AS BIGINT) AS mae7_ppm,
           CAST(sum(err7) * 1000000 // greatest(sum(n), 1) AS BIGINT)
               AS wape7_ppm,
           CAST(sum(err7) * 1000000 // greatest(sum(err1), 1) AS BIGINT)
               AS mase_ppm
    FROM scored GROUP BY event_type
    """,
    doc="Seasonal-naive forecast evaluation: predict each day's event "
    "count per type with the same-day-of-week value one week earlier "
    "(the standard strong baseline for weekly-seasonal series) and "
    "score only days where both the lag-7 and lag-1 observations "
    "exist.  MAE and WAPE are exact integer ppm; mase_ppm compares "
    "against the lag-1 persistence baseline (ratio < 1e6 means the "
    "seasonal model beats persistence), so the whole surface is "
    "integer and bit-identical cross-engine.  The daily rollup is one "
    "partial-agg'd shuffle over the raw events; the self-joins and "
    "final agg run on |types|x|days| rows — at 100 TB the heavy scan "
    "happens once, everything after is dimension-sized.",
    tags=("timeseries", "forecast"),
)
def seasonal_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a, s, p = daily.alias("a"), daily.alias("s"), daily.alias("p")
    scored = (
        a.join(
            s,
            (F.col("s.event_type") == F.col("a.event_type"))
            & (F.col("s.day") == F.date_sub(F.col("a.day"), 7)),
        )
        .join(
            p,
            (F.col("p.event_type") == F.col("a.event_type"))
            & (F.col("p.day") == F.date_sub(F.col("a.day"), 1)),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.n").alias("n"),
            F.abs(F.col("a.n") - F.col("s.n")).alias("err7"),
            F.abs(F.col("a.n") - F.col("p.n")).alias("err1"),
        )
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("days_scored"),
        F.sum("err7").cast("long").alias("total_abs_err7"),
        F.sum("err1").cast("long").alias("total_abs_err1"),
        F.expr("CAST(sum(err7) * 1000000 div count(*) AS BIGINT)").alias(
            "mae7_ppm"
        ),
        F.expr(
            "CAST(sum(err7) * 1000000 div greatest(sum(n), 1) AS BIGINT)"
        ).alias("wape7_ppm"),
        F.expr(
            "CAST(sum(err7) * 1000000 div greatest(sum(err1), 1) AS BIGINT)"
        ).alias("mase_ppm"),
    )


@register(
    "twap_daily_by_type",
    oracle="""
    , obs AS (
        SELECT event_type, ts, CAST(ts AS DATE) AS day,
               CAST(round(value * 100, 0) AS BIGINT) AS cents,
               lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id)
                   - epoch_us(ts) AS dur_us
        FROM events
    )
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(dur_us) AS BIGINT) AS dur_us_total,
           CAST(sum(CAST(cents AS HUGEINT) * dur_us)
                // greatest(sum(CAST(dur_us AS HUGEINT)), 1) AS BIGINT)
               AS twap_cents
    FROM obs WHERE dur_us IS NOT NULL
    GROUP BY event_type, day
    """,
    doc="Time-weighted average value (TWAP) per event_type and day — "
    "the last-observation-carried-forward integral TimescaleDB ships "
    "as time_weight('LOCF'): each observation holds until the next "
    "one of the same series (lead over the total order ts, event_id), "
    "the interval is attributed to its start day, and the trailing "
    "observation (unknown duration) is excluded.  Values quantize to "
    "exact integer cents BEFORE weighting and the cents x micros "
    "products accumulate in DECIMAL(38,0)/HUGEINT with one integral "
    "division at the end, so both engines agree exactly.  One shuffle "
    "by series key serves both the window and the (series, day) "
    "rollup.",
    tags=("timeseries", "window"),
)
def twap_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    obs = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias(
            "dur_us"
        ),
    ).where(F.col("dur_us").isNotNull())
    return obs.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("dur_us").cast("long").alias("dur_us_total"),
        F.expr(
            "CAST(sum(CAST(cents AS DECIMAL(38,0)) * dur_us)"
            " div greatest(sum(CAST(dur_us AS DECIMAL(38,0))), 1)"
            " AS BIGINT)"
        ).alias("twap_cents"),
    )


@register(
    "markov_next_event_accuracy",
    oracle="""
    , split AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN user_id % 5 < 4 THEN 'train' ELSE 'test' END AS fold
        FROM events
    ),
    pairs AS (
        SELECT fold, user_id, event_type AS cur,
               lead(event_type) OVER (PARTITION BY fold, user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM split
    ),
    trans AS (
        SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
        FROM pairs WHERE fold = 'train' AND nxt IS NOT NULL
        GROUP BY cur, nxt
    ),
    pred AS (
        SELECT cur, nxt AS predicted FROM (
            SELECT cur, nxt,
                   row_number() OVER (PARTITION BY cur
                                      ORDER BY n DESC, nxt) AS rk
            FROM trans
        ) WHERE rk = 1
    )
    SELECT p.cur AS event_type,
           CAST(count(*) AS BIGINT) AS n_test_pairs,
           CAST(sum(CASE WHEN t.nxt = p.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN t.nxt = p.predicted THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS accuracy_ppm,
           min(p.predicted) AS predicted
    FROM (SELECT cur, nxt FROM pairs
          WHERE fold = 'test' AND nxt IS NOT NULL) t
    JOIN pred p ON p.cur = t.cur
    GROUP BY p.cur
    """,
    doc="In-engine model evaluation: a first-order Markov next-event "
    "predictor (argmax of the train-fold transition matrix, "
    "total-order tie-break) scored on held-out users — the "
    "train/test split is the deterministic user_id%5 hash family "
    "train_test_split uses, so folds never leak a user's sequence.  "
    "Per-user sequences need one (fold,user) shuffle for the lead "
    "window; the learned matrix is |types|² rows and broadcasts into "
    "the scoring join.  Accuracy in integer ppm per current state.",
    tags=("timeseries", "ml-eval"),
)
def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    split = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("user_id") % 5 < 4, "train")
        .otherwise("test")
        .alias("fold"),
    )
    w = W.partitionBy("fold", "user_id").orderBy("ts", "event_id")
    pairs = split.select(
        "fold",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    trans = (
        pairs.where(F.col("fold") == "train")
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = W.partitionBy("cur").orderBy(F.desc("n"), F.asc("nxt"))
    pred = (
        trans.withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("predicted"))
    )
    test = pairs.where(F.col("fold") == "test").select("cur", "nxt")
    return (
        test.join(F.broadcast(pred), "cur")
        .groupBy(F.col("cur").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_pairs"),
            F.sum(F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.expr(
                "CAST(sum(CASE WHEN nxt = predicted THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("accuracy_ppm"),
            F.min("predicted").alias("predicted"),
        )
    )


@register(
    "peak_load_5min",
    oracle="""
    , b AS (
        SELECT CAST(ts AS DATE) AS day,
               epoch_us(ts) // 300000000 AS bucket,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1, 2
    )
    SELECT day, peak_events, peak_users, peak_bucket FROM (
        SELECT day, n_events AS peak_events, n_users AS peak_users,
               CAST(bucket AS BIGINT) AS peak_bucket,
               row_number() OVER (PARTITION BY day
                                  ORDER BY n_events DESC, bucket) AS rk
        FROM b
    ) WHERE rk = 1
    """,
    doc="Capacity-planning peak load: per day, the busiest 5-minute "
    "bucket (event count, distinct users, and which bucket — epoch "
    "microseconds div 3e8, pure integer).  Bucketing is one "
    "partial-agg'd shuffle keyed (day, bucket); the per-day argmax "
    "ranks |buckets-per-day| <= 288 rows with a total-order "
    "tie-break.  Day-partitioned end to end — no global sweep, so "
    "the plan parallelizes by calendar day at any scale.",
    tags=("timeseries", "ops"),
)
def peak_load_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.expr("unix_micros(ts) div 300000000").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    w = W.partitionBy("day").orderBy(F.desc("n_events"), F.asc("bucket"))
    return (
        b.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "day",
            F.col("n_events").alias("peak_events"),
            F.col("n_users").alias("peak_users"),
            F.col("bucket").cast("long").alias("peak_bucket"),
        )
    )


FUNNEL_WINDOW_US = 3_600_000_000  # 1 hour


@register(
    "window_funnel_levels",
    oracle=f"""
    , v AS (SELECT user_id, epoch_us(ts) AS v_us FROM events
            WHERE event_type = 'view'),
    c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events
          WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
          WHERE event_type = 'purchase'),
    s2 AS (
        SELECT v.user_id, v.v_us, min(c.c_us) AS c_us
        FROM v LEFT JOIN c
          ON c.user_id = v.user_id AND c.c_us > v.v_us
         AND c.c_us <= v.v_us + {FUNNEL_WINDOW_US}
        GROUP BY 1, 2
    ),
    s3 AS (
        SELECT s2.user_id, s2.v_us, s2.c_us, min(p.p_us) AS p_us
        FROM s2 LEFT JOIN p
          ON s2.c_us IS NOT NULL AND p.user_id = s2.user_id
         AND p.p_us > s2.c_us AND p.p_us <= s2.v_us + {FUNNEL_WINDOW_US}
        GROUP BY 1, 2, 3
    ),
    lvl AS (
        SELECT user_id,
               max(CASE WHEN p_us IS NOT NULL THEN 3
                        WHEN c_us IS NOT NULL THEN 2
                        ELSE 1 END) AS level
        FROM s3 GROUP BY user_id
    )
    SELECT CAST(level AS INTEGER) AS level,
           CAST(count(*) AS BIGINT) AS n_users
    FROM lvl GROUP BY level
    """,
    doc="Window funnel (the ClickHouse windowFunnel operator): the "
    "deepest view->click->purchase prefix each user completes with "
    "ALL steps inside one hour of the entry view — strictly ordered "
    "steps, each matched to the EARLIEST qualifying successor "
    "(min aggregate, deterministic).  Relational form: two bounded "
    "range joins per user (fan-out limited to a user's events inside "
    "the window) instead of a per-user sequence scan, so the plan is "
    "three user-keyed shuffles that AQE can balance, and the level "
    "histogram is dimension-sized.  Complements cep_triple_pattern "
    "(strict adjacency) — windowFunnel allows gaps between steps.",
    tags=("timeseries", "funnel"),
)
def window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def typed(t, alias):
        return ev.where(F.col("event_type") == t).select(
            F.col("user_id").alias(f"{alias}_user"),
            F.unix_micros("ts").alias(f"{alias}_us"),
        )

    v, c, p = typed("view", "v"), typed("click", "c"), typed("purchase", "p")
    s2 = (
        v.join(
            c,
            (F.col("c_user") == F.col("v_user"))
            & (F.col("c_us") > F.col("v_us"))
            & (F.col("c_us") <= F.col("v_us") + FUNNEL_WINDOW_US),
            "left",
        )
        .groupBy("v_user", "v_us")
        .agg(F.min("c_us").alias("c_us"))
    )
    s3 = (
        s2.join(
            p,
            F.col("c_us").isNotNull()
            & (F.col("p_user") == F.col("v_user"))
            & (F.col("p_us") > F.col("c_us"))
            & (F.col("p_us") <= F.col("v_us") + FUNNEL_WINDOW_US),
            "left",
        )
        .groupBy("v_user", "v_us", "c_us")
        .agg(F.min("p_us").alias("p_us"))
    )
    lvl = s3.select(
        "v_user",
        F.when(F.col("p_us").isNotNull(), 3)
        .when(F.col("c_us").isNotNull(), 2)
        .otherwise(1)
        .alias("level"),
    ).groupBy("v_user").agg(F.max("level").alias("level"))
    return lvl.groupBy(F.col("level").cast("int").alias("level")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


HOUR_US = 3_600_000_000


@register(
    "lerp_hourly_by_type",
    oracle=f"""
    , obs0 AS (
        SELECT event_type AS et, epoch_us(ts) AS us,
               CAST(round(value * 100, 0) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY event_type, epoch_us(ts)
                                  ORDER BY event_id DESC) AS rn
        FROM events
    ),
    obs AS (SELECT et, us, cents FROM obs0 WHERE rn = 1),
    bounds AS (
        SELECT et, CAST(ceil(min(us) / {HOUR_US}.0) AS BIGINT) AS h0,
               CAST(floor(max(us) / {HOUR_US}.0) AS BIGINT) AS h1
        FROM obs GROUP BY et
    ),
    grid AS (
        SELECT et, h * {HOUR_US} AS us
        FROM bounds, unnest(generate_series(h0, h1)) AS t(h)
    ),
    stream AS (
        SELECT et, us, cents, us AS ous, 0 AS sk FROM obs
        UNION ALL
        SELECT et, us, NULL, NULL, 1 FROM grid
    ),
    prevpass AS (
        SELECT et, us, cents, sk,
               last_value(cents IGNORE NULLS) OVER w AS prev_c,
               last_value(ous IGNORE NULLS) OVER w AS prev_us
        FROM stream
        WINDOW w AS (PARTITION BY et ORDER BY us, sk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    nextpass AS (
        SELECT et, us, sk, prev_c, prev_us,
               first_value(cents IGNORE NULLS) OVER w2 AS next_c,
               first_value(CASE WHEN sk = 0 THEN us END IGNORE NULLS)
                   OVER w2 AS next_us
        FROM prevpass
        WINDOW w2 AS (PARTITION BY et ORDER BY us, 1 - sk
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT et AS event_type, CAST(us AS BIGINT) AS grid_us,
           CAST(prev_us AS BIGINT) AS prev_us,
           CAST(next_us AS BIGINT) AS next_us,
           CAST(CASE WHEN next_us = prev_us THEN prev_c * 1000
                     ELSE prev_c * 1000
                          + CAST((next_c - prev_c) * 1000 AS HUGEINT)
                            * (us - prev_us) // (next_us - prev_us)
                END AS BIGINT) AS lerp_cents_x1000
    FROM nextpass
    WHERE sk = 1 AND prev_us IS NOT NULL AND next_us IS NOT NULL
    """,
    doc="Linear interpolation onto an hourly grid per series "
    "(TimescaleDB's interpolate(), Flink temporal-table lookups): "
    "each grid instant finds its surrounding observations with ONE "
    "shuffle — the union+window encoding run twice over the same "
    "exchange (backward ignore-nulls last for prev, forward "
    "ignore-nulls first for next; tags order observations before "
    "grid points at equal timestamps on the backward pass and after "
    "on the forward pass, so exact hits interpolate to themselves).  "
    "Values are exact cents, the lerp numerator is HUGEINT/"
    "DECIMAL(38,0) and one integral division lands on x1000 fixed "
    "point — bit-identical cross-engine.  Observations deduped per "
    "(series, instant) by max event_id for a total order.",
    tags=("timeseries", "interpolation"),
)
def lerp_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wdup = W.partitionBy("et", "us").orderBy(F.desc("event_id"))
    obs = (
        ev.select(
            F.col("event_type").alias("et"),
            F.unix_micros("ts").alias("us"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
            "event_id",
        )
        .withColumn("rn", F.row_number().over(wdup))
        .where(F.col("rn") == 1)
        .select("et", "us", "cents")
    )
    bounds = obs.groupBy("et").agg(
        F.expr(f"CAST(ceil(min(us) / {HOUR_US}.0) AS BIGINT)").alias("h0"),
        F.expr(f"CAST(floor(max(us) / {HOUR_US}.0) AS BIGINT)").alias("h1"),
    )
    grid = bounds.select(
        "et", F.explode(F.sequence("h0", "h1")).alias("h")
    ).select("et", (F.col("h") * HOUR_US).alias("us"))
    stream = obs.select(
        "et",
        "us",
        "cents",
        F.col("us").alias("ous"),
        F.lit(0).alias("sk"),
    ).unionAll(
        grid.select(
            "et",
            "us",
            F.lit(None).cast("long").alias("cents"),
            F.lit(None).cast("long").alias("ous"),
            F.lit(1).alias("sk"),
        )
    )
    wb = (
        W.partitionBy("et")
        .orderBy("us", "sk")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prevpass = stream.select(
        "et",
        "us",
        "cents",
        "sk",
        F.last("cents", ignorenulls=True).over(wb).alias("prev_c"),
        F.last("ous", ignorenulls=True).over(wb).alias("prev_us"),
    )
    # "first non-null at or after the current row" as a REVERSED running
    # frame: Spark re-evaluates shrinking (currentRow..unboundedFollowing)
    # frames from scratch per row — O(n^2) per partition (measured 40+ s
    # at sf0.1) — while growing frames update incrementally.  first
    # non-null ahead in ascending order == last non-null up to the
    # current row when ordered descending; same exchange (partitionBy et),
    # one extra in-partition sort.
    wf_rev = (
        W.partitionBy("et")
        .orderBy(F.col("us").desc(), (F.lit(1) - F.col("sk")).desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    nextpass = prevpass.select(
        "et",
        "us",
        "sk",
        "prev_c",
        "prev_us",
        F.last("cents", ignorenulls=True).over(wf_rev).alias("next_c"),
        F.last(
            F.when(F.col("sk") == 0, F.col("us")), ignorenulls=True
        )
        .over(wf_rev)
        .alias("next_us"),
    )
    return nextpass.where(
        (F.col("sk") == 1)
        & F.col("prev_us").isNotNull()
        & F.col("next_us").isNotNull()
    ).select(
        F.col("et").alias("event_type"),
        F.col("us").cast("long").alias("grid_us"),
        F.col("prev_us").cast("long").alias("prev_us"),
        F.col("next_us").cast("long").alias("next_us"),
        F.expr(
            "CAST(CASE WHEN next_us = prev_us THEN prev_c * 1000"
            " ELSE prev_c * 1000"
            " + CAST((next_c - prev_c) * 1000 AS DECIMAL(38,0))"
            " * (us - prev_us) div (next_us - prev_us)"
            " END AS BIGINT)"
        ).alias("lerp_cents_x1000"),
    )


SESSION_GAPS_MIN = (5, 15, 30, 60)


@register(
    "session_gap_sensitivity",
    oracle=f"""
    , g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS gap_us
        FROM events
    ),
    u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events),
    e AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM events)
    SELECT gap_min, n_sessions,
           CAST((SELECT n_events FROM e) * 1000
                // n_sessions AS BIGINT) AS events_per_session_x1000
    FROM (
        {" UNION ALL ".join(
            f'''SELECT CAST({gm} AS INTEGER) AS gap_min,
               (SELECT n_users FROM u)
               + CAST(sum(CASE WHEN gap_us > {gm * 60_000_000}
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        FROM g WHERE gap_us IS NOT NULL'''
            for gm in SESSION_GAPS_MIN
        )}
    )
    """,
    doc="Sessionization-parameter sensitivity: session counts and mean "
    "session length under four idle-gap thresholds (5/15/30/60 min) "
    "from ONE pass — a session count is just #users + #gaps above "
    "the threshold, so all four variants are conditional sums over "
    "the same lag-window output instead of four sessionization "
    "runs.  The analysis every team does before freezing the "
    "30-minute default.  One user-keyed shuffle; integer surface "
    "(mean length as x1000 fixed point via integral division).",
    tags=("timeseries", "session"),
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        )
    ).where(F.col("gap_us").isNotNull())
    n_users = ev.select("user_id").distinct().count()
    n_events = ev.count()
    rows = []
    for gm in SESSION_GAPS_MIN:
        rows.append(
            g.agg(
                F.lit(gm).cast("int").alias("gap_min"),
                (
                    F.lit(n_users)
                    + F.sum(
                        F.when(
                            F.col("gap_us") > gm * 60_000_000, 1
                        ).otherwise(0)
                    )
                )
                .cast("long")
                .alias("n_sessions"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.select(
        "gap_min",
        "n_sessions",
        F.expr(f"CAST({n_events} * 1000 div n_sessions AS BIGINT)").alias(
            "events_per_session_x1000"
        ),
    )


@register(
    "late_arrival_depth",
    oracle="""
    , l AS (
        SELECT event_type,
               max(epoch_us(ts)) OVER (PARTITION BY event_type
                                       ORDER BY event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
               - epoch_us(ts) AS late_us
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           CAST(max(late_us) AS BIGINT) AS max_late_us,
           CAST(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late_1m,
           CAST(sum(CASE WHEN late_us > 300000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late_5m,
           CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late_1h
    FROM l GROUP BY event_type
    """,
    doc="Late-data audit for watermark sizing: treating event_id as the "
    "arrival order, each event's lateness is the running event-time "
    "high-water mark minus its own timestamp — exactly the quantity "
    "a Structured Streaming withWatermark() bound must exceed to "
    "avoid dropping the row.  Reports out-of-order mass beyond "
    "1min/5min/1h per stream plus the worst regression, so the "
    "watermark is chosen from measured disorder instead of folklore.  "
    "One shuffle per stream key; the running max is a cumulative "
    "window (partial order maintained per partition at scale).",
    tags=("timeseries", "streaming"),
)
def late_arrival_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    l = ev.select(
        "event_type",
        (
            F.max(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
        ).alias("late_us"),
    )
    return l.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.max("late_us").cast("long").alias("max_late_us"),
        F.sum(F.when(F.col("late_us") > 60_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_late_1m"),
        F.sum(F.when(F.col("late_us") > 300_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_late_5m"),
        F.sum(F.when(F.col("late_us") > 3_600_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_late_1h"),
    )


@register(
    "freshness_audit",
    oracle="""
    , gm AS (SELECT max(epoch_us(ts)) AS g FROM events),
    st AS (
        SELECT event_type,
               max(epoch_us(ts)) AS last_us,
               CAST(sum(CASE WHEN epoch_us(ts)
                             > (SELECT g FROM gm) - 86400000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_last_24h,
               CAST(sum(CASE WHEN epoch_us(ts)
                             <= (SELECT g FROM gm) - 86400000000
                             AND epoch_us(ts)
                             > (SELECT g FROM gm) - 172800000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_prior_24h
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST((SELECT g FROM gm) - last_us AS BIGINT) AS staleness_us,
           n_last_24h, n_prior_24h,
           CAST(CASE WHEN n_last_24h >= n_prior_24h
                     THEN (n_last_24h - n_prior_24h) * 1000000
                          // greatest(n_prior_24h, 1)
                     ELSE -((n_prior_24h - n_last_24h) * 1000000
                            // greatest(n_prior_24h, 1))
                END AS BIGINT) AS volume_delta_ppm
    FROM st
    """,
    doc="Pipeline freshness audit: per stream, how far its newest "
    "event lags the table's global high-water mark (a silently "
    "stalled upstream shows up as growing staleness long before "
    "anyone looks at a dashboard), plus day-over-day volume delta "
    "in ppm (last 24h vs the 24h before, anchored to the data's own "
    "max — a sudden drop flags a broken producer even when the "
    "stream is fresh; the delta uses symmetric truncation written "
    "out as sign * (abs//n) on BOTH engines because Spark div "
    "truncates where DuckDB // floors on negatives).  "
    "One partial-agg'd pass; the global "
    "anchor is a broadcast scalar.  All-integer surface.",
    tags=("timeseries", "dq"),
)
def freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    gm = ev.agg(F.max(F.unix_micros("ts")).alias("g"))
    us = F.unix_micros("ts")
    st = (
        ev.crossJoin(F.broadcast(gm))
        .groupBy("event_type")
        .agg(
            F.max(us).alias("last_us"),
            F.max("g").alias("g"),
            F.sum(
                F.when(us > F.col("g") - 86_400_000_000, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_last_24h"),
            F.sum(
                F.when(
                    (us <= F.col("g") - 86_400_000_000)
                    & (us > F.col("g") - 172_800_000_000),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_prior_24h"),
        )
    )
    return st.select(
        "event_type",
        (F.col("g") - F.col("last_us")).cast("long").alias("staleness_us"),
        "n_last_24h",
        "n_prior_24h",
        F.expr(
            "CAST(CASE WHEN n_last_24h >= n_prior_24h"
            " THEN (n_last_24h - n_prior_24h) * 1000000"
            " div greatest(n_prior_24h, 1)"
            " ELSE -((n_prior_24h - n_last_24h) * 1000000"
            " div greatest(n_prior_24h, 1)) END AS BIGINT)"
        ).alias("volume_delta_ppm"),
    )


_FIC_SPLIT = "2024-01-16"  # calibration days < split <= test days


@register(
    "forecast_interval_coverage",
    oracle=f"""
    , daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    errs AS (
        SELECT a.event_type, a.day, abs(a.n - s.n) AS err
        FROM daily a
        JOIN daily s ON s.event_type = a.event_type
                    AND s.day = a.day - 7
    ),
    cal AS (
        SELECT event_type, err,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY err, day) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n_cal
        FROM errs WHERE day < DATE '{_FIC_SPLIT}'
    ),
    q90 AS (
        SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal,
               CAST(err AS BIGINT) AS q90_err
        FROM cal WHERE rk = (9 * n_cal + 9) // 10
    ),
    test AS (
        SELECT event_type, err FROM errs
        WHERE day >= DATE '{_FIC_SPLIT}'
    )
    SELECT t.event_type, q.n_cal, q.q90_err,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN t.err <= q.q90_err THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN t.err <= q.q90_err THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS coverage_ppm
    FROM test t JOIN q90 q USING (event_type)
    GROUP BY t.event_type, q.n_cal, q.q90_err
    """,
    doc="Conformal-style forecast interval calibration: the seasonal-"
    "naive model's absolute errors on the calibration half of the "
    "history give an exact rank-selected q90 error bound per stream "
    "(ceil(0.9 n) with a (err, day) total-order tie-break), and the "
    "held-out half measures empirical coverage — well-calibrated "
    "bounds land near 900000 ppm; drift shows up as under-coverage.  "
    "The distribution-free split-conformal recipe, float-free end "
    "to end.  The daily rollup is the only fact shuffle; errors, "
    "ranks and coverage run on |types|x|days| rows.",
    tags=("timeseries", "forecast"),
)
def forecast_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a, s = daily.alias("a"), daily.alias("s")
    errs = a.join(
        s,
        (F.col("s.event_type") == F.col("a.event_type"))
        & (F.col("s.day") == F.date_sub(F.col("a.day"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.day").alias("day"),
        F.abs(F.col("a.n") - F.col("s.n")).alias("err"),
    )
    split = F.lit(_FIC_SPLIT).cast("date")
    wc = W.partitionBy("event_type").orderBy("err", "day")
    cal = (
        errs.where(F.col("day") < split)
        .withColumn("rk", F.row_number().over(wc))
        .withColumn(
            "n_cal", F.count(F.lit(1)).over(W.partitionBy("event_type"))
        )
    )
    q90 = cal.where(F.col("rk") == F.expr("(9 * n_cal + 9) div 10")).select(
        "event_type",
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("err").cast("long").alias("q90_err"),
    )
    test = errs.where(F.col("day") >= split).select("event_type", "err")
    return (
        test.join(F.broadcast(q90), "event_type")
        .groupBy("event_type", "n_cal", "q90_err")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("err") <= F.col("q90_err"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
            F.expr(
                "CAST(sum(CASE WHEN err <= q90_err THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


@register(
    "behavior_trigram_novelty",
    oracle="""
    , tri AS (
        SELECT user_id,
               event_type || '>' ||
               lead(event_type, 1) OVER w || '>' ||
               lead(event_type, 2) OVER w AS tg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        QUALIFY lead(event_type, 2) OVER w IS NOT NULL
    ),
    per_user AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_trigrams,
               CAST(count(DISTINCT tg) AS BIGINT) AS n_distinct
        FROM tri GROUP BY user_id
    )
    SELECT CAST(n_distinct * 10 // n_trigrams AS INTEGER) AS novelty_decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_trigrams) AS BIGINT) AS n_trigrams,
           CAST(min(n_distinct) AS BIGINT) AS min_distinct,
           CAST(max(n_distinct) AS BIGINT) AS max_distinct
    FROM per_user GROUP BY 1
    """,
    doc="Behavioral repetitiveness: each user's event-type trigram "
    "stream (two leads over the per-user total order) scored by "
    "distinct/total trigram ratio and bucketed into integer deciles "
    "— bot-like accounts sit in the low-novelty buckets (the same "
    "loop repeated), exploratory humans higher; the sequence-level "
    "cousin of the text pipeline's repetition_filter.  One "
    "user-keyed shuffle serves the window and the per-user rollup; "
    "the decile histogram is dimension-sized.  All-integer.",
    tags=("timeseries", "behavior"),
)
def behavior_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        "user_id",
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("tg"),
        F.lead("event_type", 2).over(w).alias("_g"),
    ).where(F.col("_g").isNotNull())
    per_user = tri.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.countDistinct("tg").cast("long").alias("n_distinct"),
    )
    return per_user.groupBy(
        F.expr("CAST(n_distinct * 10 div n_trigrams AS INT)").alias(
            "novelty_decile"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_trigrams").cast("long").alias("n_trigrams"),
        F.min("n_distinct").cast("long").alias("min_distinct"),
        F.max("n_distinct").cast("long").alias("max_distinct"),
    )


@register(
    "dau_wau_stickiness",
    oracle="""
    , du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
    ),
    wau AS (
        SELECT a.day, CAST(count(DISTINCT d.user_id) AS BIGINT) AS wau
        FROM days a
        JOIN du d ON d.day <= a.day AND d.day > a.day - 7
        GROUP BY a.day
    )
    SELECT d.day, d.dau, w.wau,
           CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_ppm
    FROM dau d JOIN wau w USING (day)
    """,
    doc="DAU/WAU stickiness per day — the engagement ratio product "
    "teams track (1e6 ppm = everyone active weekly shows up daily).  "
    "The trailing-7-day distinct join reuses the rolling-window "
    "shape of hll_rolling_30d_distinct's exact branch (broadcast day "
    "grid against the (day, user) distinct relation; at 100 TB the "
    "WAU side swaps to merged HLL registers — the query pair "
    "documents both the exact and sketch paths).  All-integer.",
    tags=("timeseries", "product"),
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct().select(F.col("day").alias("tday"))
    dau = du.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    wau = (
        F.broadcast(days)
        .join(
            du,
            (F.col("day") <= F.col("tday"))
            & (F.col("day") > F.date_sub(F.col("tday"), 7)),
        )
        .groupBy("tday")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
        .select(F.col("tday").alias("day"), "wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.expr("CAST(dau * 1000000 div wau AS BIGINT)").alias(
            "stickiness_ppm"
        ),
    )


@register(
    "user_hour_concentration",
    oracle="""
    , uh AS (
        SELECT user_id, hour(ts) AS h, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT user_id, n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, h) AS rk,
               CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT)
                   AS total
        FROM uh
    ),
    per_user AS (
        SELECT user_id, total,
               CAST(sum(CASE WHEN rk <= 3 THEN n ELSE 0 END) * 1000000
                    // total AS BIGINT) AS top3_share_ppm
        FROM ranked GROUP BY user_id, total
    )
    SELECT CAST(top3_share_ppm * 10 // 1000001 AS INTEGER) AS share_decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(total) AS BIGINT) AS n_events,
           CAST(min(top3_share_ppm) AS BIGINT) AS min_share_ppm,
           CAST(max(top3_share_ppm) AS BIGINT) AS max_share_ppm
    FROM per_user GROUP BY 1
    """,
    doc="Hour-of-day concentration per user: the share of each user's "
    "events inside their personal top-3 hours (ranked with a total "
    "order), bucketed into deciles — schedule-driven automation "
    "concentrates near 1e6 ppm while organic humans spread out; an "
    "entropy-free behavioral fingerprint (no libm) that complements "
    "behavior_trigram_novelty's sequence view with a clock view.  "
    "One user-keyed shuffle serves the (user, hour) rollup, ranking "
    "and share; the decile histogram is dimension-sized.",
    tags=("timeseries", "behavior"),
)
def user_hour_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uh = ev.groupBy(
        "user_id", F.hour("ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wr = W.partitionBy("user_id").orderBy(F.desc("n"), F.asc("h"))
    wt = W.partitionBy("user_id")
    ranked = uh.select(
        "user_id",
        "n",
        F.row_number().over(wr).alias("rk"),
        F.sum("n").over(wt).cast("long").alias("total"),
    )
    per_user = ranked.groupBy("user_id", "total").agg(
        F.expr(
            "CAST(sum(CASE WHEN rk <= 3 THEN n ELSE 0 END) * 1000000"
            " div total AS BIGINT)"
        ).alias("top3_share_ppm")
    )
    return per_user.groupBy(
        F.expr("CAST(top3_share_ppm * 10 div 1000001 AS INT)").alias(
            "share_decile"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("total").cast("long").alias("n_events"),
        F.min("top3_share_ppm").cast("long").alias("min_share_ppm"),
        F.max("top3_share_ppm").cast("long").alias("max_share_ppm"),
    )


@register(
    "growth_accounting_weekly",
    oracle="""
    , uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    ),
    seq AS (
        SELECT user_id, wk,
               lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
               lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
        FROM uw
    ),
    classified AS (
        SELECT wk,
               CASE WHEN prev_wk IS NULL THEN 'new'
                    WHEN prev_wk = wk - 7 THEN 'retained'
                    ELSE 'resurrected' END AS status,
               CASE WHEN next_wk IS NULL OR next_wk > wk + 7
                    THEN 1 ELSE 0 END AS churns_after
        FROM seq
    )
    SELECT wk AS week,
           CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained,
           CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resurrected,
           CAST(count(*) AS BIGINT) AS wau,
           CAST(sum(churns_after) AS BIGINT) AS n_churning_after
    FROM classified GROUP BY wk
    """,
    doc="Weekly growth accounting (the Social-Capital framework): "
    "every active user classified as new (first week ever), "
    "retained (active the prior week) or resurrected (dormant >= 2 "
    "weeks) — the three always sum to WAU — plus how many of this "
    "week's actives churn after it (no activity next week).  One "
    "user-keyed window over the distinct (user, week) relation "
    "serves both lag and lead; week arithmetic is date_trunc + "
    "integer day offsets, identical cross-engine.  The "
    "decomposition that tells you WHY the WAU curve moved.",
    tags=("timeseries", "product"),
)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("wk"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
    )
    classified = seq.select(
        "wk",
        F.when(F.col("prev_wk").isNull(), "new")
        .when(F.col("prev_wk") == F.date_sub("wk", 7), "retained")
        .otherwise("resurrected")
        .alias("status"),
        F.when(
            F.col("next_wk").isNull()
            | (F.col("next_wk") > F.date_add("wk", 7)),
            1,
        )
        .otherwise(0)
        .alias("churns_after"),
    )
    return classified.groupBy(F.col("wk").alias("week")).agg(
        F.sum(F.when(F.col("status") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("status") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("status") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
        F.count(F.lit(1)).cast("long").alias("wau"),
        F.sum("churns_after").cast("long").alias("n_churning_after"),
    )


_TD_SPLIT = "2024-01-15 00:00:00"  # event-stream midpoint


@register(
    "transition_drift_chi2",
    oracle=f"""
    , pairs AS (
        SELECT CASE WHEN ts < TIMESTAMP '{_TD_SPLIT}' THEN 1 ELSE 2 END
                   AS half,
               event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS nts
        FROM events
    ),
    cells AS (
        SELECT cur, nxt, half, CAST(count(*) AS BIGINT) AS o
        FROM pairs
        WHERE nxt IS NOT NULL
          AND (half = 1) = (nts < TIMESTAMP '{_TD_SPLIT}')
        GROUP BY 1, 2, 3
    ),
    margins AS (
        SELECT cur, nxt, CAST(sum(o) AS BIGINT) AS rc
        FROM cells GROUP BY 1, 2
    ),
    halves AS (
        SELECT cur, half, CAST(sum(o) AS BIGINT) AS hc
        FROM cells GROUP BY 1, 2
    ),
    tots AS (SELECT cur, CAST(sum(o) AS BIGINT) AS n FROM cells GROUP BY 1),
    contrib AS (
        SELECT c.cur,
               CAST((CAST(c.o AS HUGEINT) * t.n - CAST(m.rc AS HUGEINT)
                     * h.hc) * (CAST(c.o AS HUGEINT) * t.n
                     - CAST(m.rc AS HUGEINT) * h.hc) * 1000000
                    // (CAST(m.rc AS HUGEINT) * h.hc * t.n) AS BIGINT)
                   AS chi2_cell_ppm
        FROM cells c
        JOIN margins m ON m.cur = c.cur AND m.nxt = c.nxt
        JOIN halves h ON h.cur = c.cur AND h.half = c.half
        JOIN tots t ON t.cur = c.cur
    )
    SELECT cur AS event_type,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(chi2_cell_ppm) AS BIGINT) AS chi2_ppm
    FROM contrib GROUP BY cur
    """,
    doc="Transition-matrix drift monitor: chi-square homogeneity of "
    "each state's next-event distribution between the first and "
    "second half of the stream — the stationarity check that "
    "decides whether markov_next_event_accuracy's model has gone "
    "stale (high chi2_ppm = the behavior changed; retrain).  "
    "Transitions whose two events straddle the split are excluded "
    "from both halves (no mixed cells).  Same exact-integer "
    "HUGEINT/DECIMAL cell statistic as chi_square_type_dow; one "
    "user-keyed window shuffle, then dimension-sized tables.",
    tags=("timeseries", "ml-eval"),
)
def transition_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_TD_SPLIT).cast("timestamp")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.when(F.col("ts") < split, 1).otherwise(2).alias("half"),
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
        F.lead("ts").over(w).alias("nts"),
    ).where(
        F.col("nxt").isNotNull()
        & ((F.col("half") == 1) == (F.col("nts") < split))
    )
    cells = pairs.groupBy("cur", "nxt", "half").agg(
        F.count(F.lit(1)).cast("long").alias("o")
        # tiny contingency read by three margins and the contrib join —
        # materialize once so the sessionize window runs once, not 4x
    ).transform(snapshot, eager=True)
    margins = cells.groupBy("cur", "nxt").agg(
        F.sum("o").cast("long").alias("rc")
    )
    halves = cells.groupBy("cur", "half").agg(
        F.sum("o").cast("long").alias("hc")
    )
    tots = cells.groupBy("cur").agg(F.sum("o").cast("long").alias("n"))
    contrib = (
        cells.join(F.broadcast(margins), ["cur", "nxt"])
        .join(F.broadcast(halves), ["cur", "half"])
        .join(F.broadcast(tots), "cur")
        .select(
            "cur",
            F.expr(
                "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(rc AS"
                " DECIMAL(38,0)) * hc) * (CAST(o AS DECIMAL(38,0)) * n"
                " - CAST(rc AS DECIMAL(38,0)) * hc) * 1000000"
                " div (CAST(rc AS DECIMAL(38,0)) * hc * n) AS BIGINT)"
            ).alias("chi2_cell_ppm"),
        )
    )
    return contrib.groupBy(F.col("cur").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("chi2_cell_ppm").cast("long").alias("chi2_ppm"),
    )


@register(
    "cusum_changepoint",
    oracle="""
    , q AS (
        SELECT event_type, ts, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    m AS (
        SELECT event_type,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM q GROUP BY event_type
    ),
    dev AS (  -- n * (x_i - mean) kept integral: n*x_i - s
        SELECT q.event_type, q.ts, q.event_id,
               CAST(m.n AS HUGEINT) * q.cents - m.s AS d,
               m.n
        FROM q JOIN m USING (event_type)
    ),
    cs AS (
        SELECT event_type, ts, event_id, n,
               sum(d) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c
        FROM dev
    ),
    peak AS (
        SELECT event_type, ts AS peak_ts, n,
               CAST(abs(c) // n AS BIGINT) AS peak_cusum_cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(c) DESC, ts, event_id)
                   AS rk
        FROM cs
    )
    SELECT event_type, peak_ts, peak_cusum_cents,
           CAST(n AS BIGINT) AS n_events
    FROM peak WHERE rk = 1
    """,
    doc="CUSUM changepoint locator (Page 1954): per stream, the "
    "cumulative sum of deviations from the stream's own mean peaks "
    "exactly where the level shifts — the argmax |CUSUM| is the "
    "classic single-changepoint estimate.  Deviations are kept "
    "integral by scaling through n (n*x_i - sum instead of "
    "x_i - mean), so the running sum is exact HUGEINT/DECIMAL and "
    "the peak is unambiguous with a (|c|, ts, event_id) total "
    "order; the reported magnitude divides back to cents.  One "
    "stream-keyed window shuffle.",
    tags=("timeseries", "anomaly"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    m = q.groupBy("event_type").agg(
        F.sum("cents").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dev = q.join(F.broadcast(m), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        F.expr("CAST(n AS DECIMAL(38,0)) * cents - s").alias("d"),
        "n",
    )
    wc = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cs = dev.select(
        "event_type",
        "ts",
        "event_id",
        "n",
        F.sum("d").over(wc).alias("c"),
    )
    wr = W.partitionBy("event_type").orderBy(
        F.abs(F.col("c")).desc(), F.asc("ts"), F.asc("event_id")
    )
    peak = cs.select(
        "event_type",
        F.col("ts").alias("peak_ts"),
        "n",
        F.expr("CAST(abs(c) div n AS BIGINT)").alias("peak_cusum_cents"),
        F.row_number().over(wr).alias("rk"),
    )
    return peak.where(F.col("rk") == 1).select(
        "event_type",
        "peak_ts",
        "peak_cusum_cents",
        F.col("n").cast("long").alias("n_events"),
    )


@register(
    "coactivity_user_pairs",
    oracle="""
    , ub AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 300000000 AS bucket
        FROM events
    ),
    pairs AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM ub a JOIN ub b ON a.bucket = b.bucket
                           AND a.user_id < b.user_id
        GROUP BY 1, 2
    )
    SELECT user_a, user_b, n_shared
    FROM pairs ORDER BY n_shared DESC, user_a, user_b LIMIT 20
    """,
    doc="Co-activity inference: user pairs most often active in the "
    "same 5-minute bucket — the time-locality signal behind "
    "shared-account and coordination detection.  The bucket "
    "equi-join bounds pair fan-out by per-bucket occupancy (a "
    "bucketed join, never an all-pairs timestamp comparison — the "
    "same move range_join_bucketed makes); distinct (user, bucket) "
    "first so dense users don't quadratically inflate the join.  "
    "Top-20 with a 3-column total order.",
    tags=("timeseries", "graph"),
)
def coactivity_user_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ub = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 300000000").alias("bucket"),
    ).distinct()
    a = ub.select(F.col("user_id").alias("user_a"), "bucket")
    b = ub.select(F.col("user_id").alias("user_b"), "bucket")
    return (
        a.join(b, ["bucket"])
        .where(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .orderBy(F.desc("n_shared"), "user_a", "user_b")
        .limit(20)
    )


@register(
    "daily_kpi_snapshot",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS revenue_cents,
           CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN user_id END) AS BIGINT)
               AS n_buyers,
           CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN user_id END) * 1000000
                // count(DISTINCT user_id) AS BIGINT)
               AS buyer_conversion_ppm,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS error_rate_ppm
    FROM events GROUP BY CAST(ts AS DATE)
    """,
    doc="One-pass daily KPI snapshot: events, actives, purchases, "
    "exact-cents revenue, distinct buyers, buyer conversion and "
    "error rate — eight metrics from a SINGLE groupBy with "
    "conditional aggregates (one shuffle), the dashboard fact table "
    "teams otherwise assemble from five separate queries.  "
    "Conditional count-distincts (buyers) expand to the same "
    "partial-agg plan as plain distincts; everything downstream of "
    "the scan is integer.",
    tags=("timeseries", "product"),
    bench=True,
)
def daily_kpi_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    return ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.when(is_p, 1).otherwise(0)).cast("long").alias(
            "n_purchases"
        ),
        F.sum(
            F.when(
                is_p, F.expr("CAST(round(value * 100, 0) AS BIGINT)")
            ).otherwise(0)
        )
        .cast("long")
        .alias("revenue_cents"),
        F.countDistinct(F.when(is_p, F.col("user_id")))
        .cast("long")
        .alias("n_buyers"),
        F.expr(
            "CAST(count(DISTINCT CASE WHEN event_type = 'purchase'"
            " THEN user_id END) * 1000000"
            " div count(DISTINCT user_id) AS BIGINT)"
        ).alias("buyer_conversion_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("error_rate_ppm"),
    )


@register(
    "user_burstiness_topk",
    oracle="""
    , ub AS (
        SELECT user_id, epoch_us(ts) // 300000000 AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    per_user AS (
        SELECT user_id,
               CAST(max(n) AS BIGINT) AS peak_5min,
               CAST(sum(n) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS active_buckets
        FROM ub GROUP BY user_id
    )
    SELECT user_id, peak_5min, total, active_buckets,
           CAST(peak_5min * 1000000 // total AS BIGINT)
               AS peak_share_ppm
    FROM per_user
    ORDER BY peak_5min DESC, user_id LIMIT 20
    """,
    doc="Burstiness screen: the 20 users with the highest single-"
    "5-minute-bucket event count, with their lifetime total and the "
    "peak bucket's share of it — scripted clients concentrate whole "
    "sessions into one burst (peak share near 1e6 ppm), humans "
    "spread out; the rate-limiting complement to "
    "throttle_events_5min (which drops excess, this names the "
    "offenders).  Two partial-agg'd rollups, TakeOrdered(20) with a "
    "total order.  All-integer.",
    tags=("timeseries", "behavior"),
)
def user_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ub = ev.groupBy(
        "user_id",
        F.expr("unix_micros(ts) div 300000000").alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_user = ub.groupBy("user_id").agg(
        F.max("n").cast("long").alias("peak_5min"),
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("active_buckets"),
    )
    return (
        per_user.select(
            "user_id",
            "peak_5min",
            "total",
            "active_buckets",
            F.expr("CAST(peak_5min * 1000000 div total AS BIGINT)").alias(
                "peak_share_ppm"
            ),
        )
        .orderBy(F.desc("peak_5min"), "user_id")
        .limit(20)
    )


@register(
    "session_depth_conversion",
    oracle="""
    , g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) > 1800000000
                         OR lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    s AS (
        SELECT user_id, event_type,
               sum(new_s) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS sid
        FROM g
    ),
    sess AS (
        SELECT user_id, sid,
               CAST(count(*) AS BIGINT) AS depth,
               max(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS converted
        FROM s GROUP BY user_id, sid
    )
    SELECT CAST(length(bin(depth)) - 1 AS INTEGER) AS depth_octave,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST(sum(converted) * 1000000 // count(*) AS BIGINT)
               AS conversion_ppm
    FROM sess GROUP BY 1
    """,
    doc="Session depth vs conversion: 30-minute-gap sessions bucketed "
    "by depth octave (bit-length, no libm) with the share containing "
    "a purchase — the engagement-depth funnel that says whether "
    "deeper sessions actually convert or just wander.  The "
    "sessionizer is the standard gap-flag + running-count encoding "
    "over ONE user-keyed shuffle (same exchange serves the lag, the "
    "session-id prefix sum and the per-session rollup).  "
    "All-integer.",
    tags=("timeseries", "product"),
)
def session_depth_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
                > 1_800_000_000
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    wc = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    s = g.select(
        "user_id",
        "event_type",
        F.sum("new_s").over(wc).alias("sid"),
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("long").alias("depth"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return sess.groupBy(
        (F.length(F.bin("depth")) - 1).cast("int").alias("depth_octave")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.expr(
            "CAST(sum(converted) * 1000000 div count(*) AS BIGINT)"
        ).alias("conversion_ppm"),
    )


@register(
    "error_load_correlation",
    oracle="""
    , b AS (
        SELECT epoch_us(ts) // 300000000 AS bucket,
               CAST(count(*) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS BIGINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS BIGINT) AS syy
        FROM b
    )
    SELECT n AS n_buckets, sx AS n_events, sy AS n_errors,
           CAST(floor(
               CAST(CAST(n AS DECIMAL(38,0)) * sxy
                    - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
               / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
                           - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
                      * CAST(CAST(n AS DECIMAL(38,0)) * syy
                             - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))
               * 1000000) AS BIGINT) AS pearson_x1e6
    FROM s
    """,
    doc="Error-vs-load correlation over 5-minute buckets: Pearson r "
    "between total event volume and error count per bucket — near "
    "the errors' base-rate correlation means failures scale with "
    "traffic (capacity problem), near zero means they don't "
    "(functional bug), the first triage split in an incident "
    "review.  Exact integer sums, one IEEE sqrt + division as floor "
    "fixed-point x1e6 (the assortativity arithmetic pattern).  One "
    "partial-agg'd bucket rollup.",
    tags=("timeseries", "ops"),
)
def error_load_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        F.expr("unix_micros(ts) div 300000000").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    s = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y"))
        .cast("long")
        .alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("long")
        .alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y"))
        .cast("long")
        .alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_buckets"),
        F.col("sx").alias("n_events"),
        F.col("sy").alias("n_errors"),
        F.expr(
            "CAST(floor("
            "CAST(CAST(n AS DECIMAL(38,0)) * sxy"
            "     - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            " / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx"
            "             - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
            "        * CAST(CAST(n AS DECIMAL(38,0)) * syy"
            "               - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))"
            " * 1000000) AS BIGINT)"
        ).alias("pearson_x1e6"),
    )


# --- Bollinger-band breach screen over daily event volume -------------------

# 7-day trailing baseline, +/- 2 sigma band; all-integer breach test:
# (n*x - S)^2 > 4 * (n*S2 - S^2)  <=>  |x - mean| > 2 * stddev_pop
_BOLL_N = 7


@register(
    "bollinger_breach_days",
    oracle=f"""
    , daily AS (
        SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT event_type, d, c,
               count(*) OVER fr AS n,
               sum(c) OVER fr AS s,
               sum(c * c) OVER fr AS s2
        FROM daily
        WINDOW fr AS (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN {_BOLL_N} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days_watched,
           CAST(sum(CASE WHEN ({_BOLL_N} * c - s)
                              * ({_BOLL_N} * c - s)
                              > 4 * ({_BOLL_N} * s2 - s * s)
                         AND {_BOLL_N} * c > s THEN 1 ELSE 0 END)
               AS BIGINT) AS n_breach_up,
           CAST(sum(CASE WHEN ({_BOLL_N} * c - s)
                              * ({_BOLL_N} * c - s)
                              > 4 * ({_BOLL_N} * s2 - s * s)
                         AND {_BOLL_N} * c < s THEN 1 ELSE 0 END)
               AS BIGINT) AS n_breach_down
    FROM w WHERE n = {_BOLL_N}
    GROUP BY event_type
    """,
    doc="Bollinger-band anomaly screen on daily event volume: a day "
    "breaches when its count leaves the trailing-7-day mean +/- 2 "
    "population-sigma band (baseline excludes the current day, the "
    "control-chart convention).  The +/-2-sigma test is rearranged to "
    "the exact integer inequality (n*x - S)^2 > 4*(n*S2 - S^2), so no "
    "sqrt and no float ever crosses the engine boundary.  Dataflow: "
    "daily rollup (partial-agg'd), then one window pass partitioned "
    "by event_type — per-series state, never a global sort; at 100 TB "
    "the window input is |types| x |days| rows, not events.",
    tags=("timeseries", "anomaly"),
)
def bollinger_breach_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(date_trunc('day', ts)) DIV 86400000000"
        ).alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    fr = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-_BOLL_N, -1)
    )
    w = daily.select(
        "event_type",
        "c",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum("c").over(fr).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(fr).alias("s2"),
    ).filter(F.col("n") == _BOLL_N)
    dev = _BOLL_N * F.col("c") - F.col("s")
    var4 = 4 * (_BOLL_N * F.col("s2") - F.col("s") * F.col("s"))
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_watched"),
        F.sum(
            F.when((dev * dev > var4) & (dev > 0), 1).otherwise(0)
        ).cast("long").alias("n_breach_up"),
        F.sum(
            F.when((dev * dev > var4) & (dev < 0), 1).otherwise(0)
        ).cast("long").alias("n_breach_down"),
    )


# --- exact-integer EWMA of daily event volume -------------------------------

# alpha = 1/4 EWMA, kernel truncated at 20 days; weights are the exact
# integers 3^k * 4^(19-k) over the common denominator 4^20 - 3^20 (the
# truncated-kernel normalizer), so the smoothed value is one integer
# division — no pow(), no float recursion, bit-identical cross-engine.
_EWMA_K = 20
_EWMA_W = [3**k * 4 ** (_EWMA_K - 1 - k) for k in range(_EWMA_K)]
_EWMA_TOT = sum(_EWMA_W)  # = 4^20 - 3^20


@register(
    "ewma_event_volume",
    oracle=f"""
    , daily AS (
        SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    wt AS (
        SELECT * FROM (VALUES {", ".join(f"({k}, {w})" for k, w in enumerate(_EWMA_W))})
        AS t(k, w)
    ),
    contrib AS (
        SELECT s.event_type, s.d + wt.k AS td, s.c * wt.w AS cw
        FROM daily s CROSS JOIN wt
    ),
    sm AS (
        SELECT event_type, td, sum(cw) AS num
        FROM contrib GROUP BY 1, 2
    )
    SELECT a.event_type, a.td AS d, b.c AS cnt,
           CAST(a.num * 100 // {_EWMA_TOT} AS BIGINT) AS ewma_e2
    FROM sm a JOIN daily b ON b.event_type = a.event_type AND b.d = a.td
    """,
    doc="Exponentially-weighted moving average (alpha=1/4) of daily "
    "event volume — the smoothed-trend feed behind alerting "
    "dashboards.  The kernel is truncated at 20 days and expressed "
    "over the common denominator 4^20, so every weight 3^k*4^(19-k) "
    "is an exact BIGINT and the whole smoother is integer "
    "multiply-add + one division (missing calendar days correctly "
    "contribute zero because contributions are scattered forward "
    "from observed days).  Dataflow: daily rollup, a 20-way map-side "
    "fan-out against a broadcast weight table, one hash re-aggregate "
    "on (series, day) — no window, no per-series sort; at 100 TB the "
    "fan-out input is |types| x |days|, not raw events.",
    tags=("timeseries", "smoothing"),
)
def ewma_event_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(date_trunc('day', ts)) DIV 86400000000"
        ).alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    kw = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("k"), F.lit(w).cast("long").alias("w")
                )
                for k, w in enumerate(_EWMA_W)
            ]
        )
    ).alias("kw")
    contrib = daily.select(
        "event_type", "d", "c", kw
    ).select(
        "event_type",
        (F.col("d") + F.col("kw.k")).alias("td"),
        (F.col("c") * F.col("kw.w")).alias("cw"),
    )
    sm = contrib.groupBy("event_type", "td").agg(F.sum("cw").alias("num"))
    return (
        sm.alias("a")
        .join(
            daily.alias("b"),
            F.expr("b.event_type = a.event_type AND b.d = a.td"),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.td").alias("d"),
            F.col("b.c").alias("cnt"),
            F.expr(f"CAST(a.num * 100 DIV {_EWMA_TOT} AS BIGINT)").alias(
                "ewma_e2"
            ),
        )
    )


# --- diurnal (24 h) first-harmonic power per event type ---------------------

# cos/sin(2*pi*h/24) scaled by 1e6 and rounded in Python — embedding the
# identical integer literals on both engines sidesteps cross-engine libm
# (the plans/sketches.py constants pattern); the harmonic sums are then
# exact BIGINT dot products and only the final sqrt/divide is float, in
# one textually-identical expression.
_DIURNAL_COS = [round(math.cos(2 * math.pi * h / 24) * 10**6) for h in range(24)]
_DIURNAL_SIN = [round(math.sin(2 * math.pi * h / 24) * 10**6) for h in range(24)]
_DIURNAL_FORMULA = (
    "CAST(floor(2.0 * sqrt(CAST(sc_e6 AS DOUBLE) * CAST(sc_e6 AS DOUBLE)"
    " + CAST(ss_e6 AS DOUBLE) * CAST(ss_e6 AS DOUBLE))"
    " / CAST(n_events AS DOUBLE)) AS BIGINT)"
)


@register(
    "diurnal_dft_power",
    oracle=f"""
    , hh AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    agg AS (
        SELECT event_type,
               sum(c) AS n_events,
               sum(c * list_extract({_DIURNAL_COS}, CAST(h + 1 AS INTEGER)))
                   AS sc_e6,
               sum(c * list_extract({_DIURNAL_SIN}, CAST(h + 1 AS INTEGER)))
                   AS ss_e6
        FROM hh GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(sc_e6 AS BIGINT) AS sc_e6,
           CAST(ss_e6 AS BIGINT) AS ss_e6,
           {_DIURNAL_FORMULA} AS diurnal_ppm
    FROM agg
    """,
    doc="Single-bin DFT (Goertzel) at the 24-hour frequency per event "
    "type: the normalized first-harmonic amplitude 2*|X_1|/n is the "
    "classic diurnality index — near 0 for flat traffic, near 1e6 "
    "(ppm) for fully day-night periodic streams.  The cos/sin basis "
    "is a Python-precomputed integer table shared verbatim by both "
    "engines, so the harmonic accumulation is an exact BIGINT dot "
    "product folded into the same hash aggregate as the hour rollup "
    "(hour-of-day from pure integer epoch math, no tz functions); "
    "floats appear only in the final one-expression amplitude.  At "
    "100 TB the aggregate is map-side partial over (type, hour) — 24 "
    "rows per series reach the shuffle.",
    tags=("timeseries", "spectral"),
)
def diurnal_dft_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cos_arr = F.array(*[F.lit(v).cast("long") for v in _DIURNAL_COS])
    sin_arr = F.array(*[F.lit(v).cast("long") for v in _DIURNAL_SIN])
    hh = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_micros(ts) DIV 3600000000 % 24 AS BIGINT)").alias(
            "h"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    agg = hh.groupBy("event_type").agg(
        F.sum("c").alias("n_events"),
        F.sum(
            F.col("c") * F.element_at(cos_arr, (F.col("h") + 1).cast("int"))
        ).alias("sc_e6"),
        F.sum(
            F.col("c") * F.element_at(sin_arr, (F.col("h") + 1).cast("int"))
        ).alias("ss_e6"),
    )
    return agg.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sc_e6").cast("long").alias("sc_e6"),
        F.col("ss_e6").cast("long").alias("ss_e6"),
        F.expr(_DIURNAL_FORMULA).alias("diurnal_ppm"),
    )


# --- Haar wavelet energy decomposition of hourly volume ---------------------


@register(
    "haar_energy_decomposition",
    oracle="""
    , hh AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    l1 AS (
        SELECT event_type, h // 2 AS p,
               sum(CASE WHEN h % 2 = 0 THEN c ELSE -c END) AS d1,
               sum(c) AS a1
        FROM hh GROUP BY 1, 2
    ),
    l2 AS (
        SELECT event_type, p // 2 AS p2,
               sum(CASE WHEN p % 2 = 0 THEN a1 ELSE -a1 END) AS d2,
               sum(a1) AS a2,
               sum(d1 * d1) AS ed1_part
        FROM l1 GROUP BY 1, 2
    ),
    en AS (
        SELECT event_type,
               CAST(sum(ed1_part) AS BIGINT) AS e_d1,
               CAST(sum(d2 * d2) AS BIGINT) AS e_d2,
               CAST(sum(a2 * a2) AS BIGINT) AS e_a2
        FROM l2 GROUP BY event_type
    )
    SELECT event_type, e_d1, e_d2, e_a2,
           CAST(2 * e_d1 * 1000000 // (2 * e_d1 + e_d2 + e_a2) AS BIGINT)
               AS detail1_ppm,
           CAST(e_d2 * 1000000 // (2 * e_d1 + e_d2 + e_a2) AS BIGINT)
               AS detail2_ppm,
           CAST(e_a2 * 1000000 // (2 * e_d1 + e_d2 + e_a2) AS BIGINT)
               AS approx_ppm
    FROM en
    """,
    doc="Two-level unnormalized Haar wavelet energy split of each "
    "series' hourly volume: detail-1 energy = hour-to-hour "
    "alternation, detail-2 = 2-to-4-hour structure, approx = the "
    "4-hour-and-slower envelope, with shares from the exact Parseval "
    "identity 4*||x||^2 = 2*e_d1 + e_d2 + e_a2 — a multi-resolution "
    "burstiness fingerprint complementing the single-frequency "
    "diurnal_dft_power.  Everything is integer: Haar coefficients "
    "are signed sums over h div 2 buckets (missing hours contribute "
    "0 exactly), energies are integer squares, shares exact ppm.  "
    "Each level is a hash aggregate halving the rows of the previous "
    "one — at 100 TB the first rollup to |types| x |hours| dominates "
    "and everything after is dimension-sized.",
    tags=("timeseries", "spectral"),
)
def haar_energy_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hh = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_micros(ts) DIV 3600000000 AS BIGINT)").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    l1 = hh.groupBy(
        "event_type", F.expr("h DIV 2").alias("p")
    ).agg(
        F.sum(
            F.when(F.col("h") % 2 == 0, F.col("c")).otherwise(-F.col("c"))
        ).alias("d1"),
        F.sum("c").alias("a1"),
    )
    l2 = l1.groupBy(
        "event_type", F.expr("p DIV 2").alias("p2")
    ).agg(
        F.sum(
            F.when(F.col("p") % 2 == 0, F.col("a1")).otherwise(-F.col("a1"))
        ).alias("d2"),
        F.sum("a1").alias("a2"),
        F.sum(F.col("d1") * F.col("d1")).alias("ed1_part"),
    )
    en = l2.groupBy("event_type").agg(
        F.sum("ed1_part").cast("long").alias("e_d1"),
        F.sum(F.col("d2") * F.col("d2")).cast("long").alias("e_d2"),
        F.sum(F.col("a2") * F.col("a2")).cast("long").alias("e_a2"),
    )
    tot = "(2 * e_d1 + e_d2 + e_a2)"
    return en.select(
        "event_type",
        "e_d1",
        "e_d2",
        "e_a2",
        F.expr(f"CAST(2 * e_d1 * 1000000 DIV {tot} AS BIGINT)").alias(
            "detail1_ppm"
        ),
        F.expr(f"CAST(e_d2 * 1000000 DIV {tot} AS BIGINT)").alias(
            "detail2_ppm"
        ),
        F.expr(f"CAST(e_a2 * 1000000 DIV {tot} AS BIGINT)").alias(
            "approx_ppm"
        ),
    )


# --- Hellinger drift between the two halves of each series ------------------

# value bins: cents DIV 1000 capped to 10 bins; probabilities scaled to
# exact 1e12 integers, sqrt'd per bin (1e6 scale), per-bin contributions
# floor-quantized back to BIGINT before summing — no float accumulation.
_HELL_BINS = 10


@register(
    "hellinger_half_drift",
    oracle=f"""
    , ev AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS d,
               least({_HELL_BINS - 1},
                     greatest(CAST(round(value * 100, 0) AS BIGINT), 0)
                     // 1000) AS bin
        FROM events
    ),
    sp AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM ev),
    cnts AS (
        SELECT event_type, bin,
               CAST(sum(CASE WHEN d < mid THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN d >= mid THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM ev CROSS JOIN sp GROUP BY event_type, bin
    ),
    tot AS (
        SELECT event_type, sum(a) AS na, sum(b) AS nb FROM cnts
        GROUP BY event_type
    ),
    contrib AS (
        SELECT c.event_type,
               CAST(floor(
                   (sqrt(CAST(c.a * 1000000000000 // t.na AS DOUBLE))
                    - sqrt(CAST(c.b * 1000000000000 // t.nb AS DOUBLE)))
                   * (sqrt(CAST(c.a * 1000000000000 // t.na AS DOUBLE))
                      - sqrt(CAST(c.b * 1000000000000 // t.nb AS DOUBLE)))
               ) AS BIGINT) AS h_fp,
               c.a + c.b AS n_bin
        FROM cnts c JOIN tot t ON t.event_type = c.event_type
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n_bin) AS BIGINT) AS n_events,
           CAST(sum(h_fp) AS BIGINT) AS hell_e12,
           CAST(sum(h_fp) // 2000000 AS BIGINT) AS h2_ppm
    FROM contrib GROUP BY event_type
    """,
    doc="Hellinger-distance drift monitor: split each event series at "
    "its calendar midpoint and compare the value distributions of the "
    "two halves with the squared Hellinger distance "
    "H^2 = 1/2 * sum_bins (sqrt(p)-sqrt(q))^2 — the bounded-in-[0,1] "
    "f-divergence that complements the KS (value_drift_ks_by_type) "
    "and chi-square (transition_drift_chi2) monitors and stays "
    "defined when bins empty out.  Bin probabilities are exact "
    "1e12-scaled integers; sqrt is correctly rounded on both "
    "engines; each bin's contribution floor-quantizes to BIGINT "
    "before the sum, so no float summation order leaks.  One pass: "
    "(type, bin) rollup with CASE-split half counts, a per-type "
    "total join, a 10-bin fold.",
    tags=("timeseries", "drift"),
)
def hellinger_half_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("d"),
        F.expr(
            f"least({_HELL_BINS - 1},"
            " greatest(CAST(round(value * 100, 0) AS BIGINT), 0)"
            " DIV 1000)"
        ).alias("bin"),
    )
    sp = ev.agg(
        F.expr("(min(d) + max(d) + 1) DIV 2").alias("mid")
    )
    cnts = (
        ev.crossJoin(F.broadcast(sp))
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("d") < F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("d") >= F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
    )
    tot = cnts.groupBy("event_type").agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    sq = (
        "(sqrt(CAST(a * 1000000000000 DIV na AS DOUBLE))"
        " - sqrt(CAST(b * 1000000000000 DIV nb AS DOUBLE)))"
    )
    contrib = (
        cnts.alias("c")
        .join(F.broadcast(tot).alias("t"), "event_type")
        .select(
            "event_type",
            F.expr(f"CAST(floor({sq} * {sq}) AS BIGINT)").alias("h_fp"),
            (F.col("a") + F.col("b")).alias("n_bin"),
        )
    )
    return contrib.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n_bin").cast("long").alias("n_events"),
        F.sum("h_fp").cast("long").alias("hell_e12"),
        F.expr("CAST(sum(h_fp) DIV 2000000 AS BIGINT)").alias("h2_ppm"),
    )


# --- STL-lite variance decomposition of daily volume ------------------------

# All components live on the 7x integer scale (T = 7-day centered window
# SUM, dt7 = 7c - T, seasonal = per-dow mean of dt7 via SYMMETRIC integer
# division — Spark div truncates, DuckDB // floors, identical only with
# the explicit CASE — residual = dt7 - s7); component energies are the
# exact integers n*sum(v^2) - sum(v)^2, so shares are pure ppm ratios.
_STL_SYMDIV = (
    "CASE WHEN {x} >= 0 THEN {x} {div} {n}"
    " ELSE -((-({x})) {div} {n}) END"
)


@register(
    "volume_decomposition_shares",
    oracle=f"""
    , daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, min(d) AS mind, max(d) AS maxd
        FROM daily GROUP BY event_type
    ),
    sct AS (
        SELECT s.event_type, s.d + k.k AS td, s.c
        FROM daily s CROSS JOIN (
            SELECT * FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3))
            AS t(k)
        ) k
    ),
    tr AS (
        SELECT event_type, td AS d, CAST(sum(c) AS BIGINT) AS t7
        FROM sct GROUP BY 1, 2
    ),
    base AS (
        SELECT y.event_type, y.d, y.c, t.t7,
               7 * y.c - t.t7 AS dt7, y.d % 7 AS dow
        FROM daily y
        JOIN tr t ON t.event_type = y.event_type AND t.d = y.d
        JOIN bounds b ON b.event_type = y.event_type
        WHERE y.d >= b.mind + 3 AND y.d <= b.maxd - 3
    ),
    seas AS (
        SELECT event_type, dow,
               CAST(sum(dt7) AS BIGINT) AS ssum,
               CAST(count(*) AS BIGINT) AS scnt
        FROM base GROUP BY 1, 2
    ),
    comp AS (
        SELECT b.event_type, b.t7,
               {_STL_SYMDIV.format(x="s.ssum", div="//", n="s.scnt")} AS s7,
               b.dt7 - ({_STL_SYMDIV.format(x="s.ssum", div="//", n="s.scnt")})
                   AS r7
        FROM base b
        JOIN seas s ON s.event_type = b.event_type AND s.dow = b.dow
    ),
    en AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               count(*) * sum(CAST(t7 AS HUGEINT) * t7)
                   - sum(CAST(t7 AS HUGEINT)) * sum(t7) AS e_t,
               count(*) * sum(CAST(s7 AS HUGEINT) * s7)
                   - sum(CAST(s7 AS HUGEINT)) * sum(s7) AS e_s,
               count(*) * sum(CAST(r7 AS HUGEINT) * r7)
                   - sum(CAST(r7 AS HUGEINT)) * sum(r7) AS e_r
        FROM comp GROUP BY event_type
    )
    SELECT event_type, n_days,
           CAST(e_t * 1000000 // greatest(e_t + e_s + e_r, 1) AS BIGINT)
               AS trend_share_ppm,
           CAST(e_s * 1000000 // greatest(e_t + e_s + e_r, 1) AS BIGINT)
               AS seasonal_share_ppm,
           CAST(e_r * 1000000 // greatest(e_t + e_s + e_r, 1) AS BIGINT)
               AS residual_share_ppm
    FROM en
    """,
    doc="STL-lite variance decomposition of each series' daily volume "
    "into trend (7-day centered moving window), day-of-week seasonal "
    "(per-dow mean of the detrended series), and residual — the "
    "variance-share readout ('how much of this metric is weekday "
    "rhythm vs drift vs noise') that decides whether forecasting or "
    "anomaly thresholds need deseasonalizing.  Everything stays on "
    "the exact 7x integer scale; component energies are "
    "n*sum(v^2)-sum(v)^2 so the ppm shares never touch a float; the "
    "per-dow mean uses explicit symmetric integer division (Spark "
    "div truncates toward zero, DuckDB // floors — they agree only "
    "through the shared CASE).  Dataflow: daily rollup, a 7-way "
    "scatter re-aggregate for the centered window (no window "
    "function, missing days contribute zero exactly), one dow "
    "aggregate, one moment rollup.",
    tags=("timeseries", "decomposition"),
)
def volume_decomposition_shares(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("d"),
        # day-grain series read by bounds, the trailing window and the
        # decomposition join — materialize once, scan events once
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).transform(snapshot, 
        eager=True
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("mind"), F.max("d").alias("maxd")
    )
    ks = F.explode(F.array(*[F.lit(k) for k in range(-3, 4)])).alias("k")
    sct = daily.select("event_type", "d", "c", ks).select(
        "event_type", (F.col("d") + F.col("k")).alias("td"), "c"
    )
    tr = sct.groupBy("event_type", "td").agg(
        F.sum("c").cast("long").alias("t7")
    )
    base = (
        daily.alias("y")
        .join(
            tr.alias("t"),
            F.expr("t.event_type = y.event_type AND t.td = y.d"),
        )
        .join(F.broadcast(bounds).alias("b"), F.expr("b.event_type = y.event_type"))
        .filter(F.expr("y.d >= b.mind + 3 AND y.d <= b.maxd - 3"))
        .select(
            F.col("y.event_type").alias("event_type"),
            "y.d",
            "y.c",
            "t.t7",
            F.expr("7 * y.c - t.t7").alias("dt7"),
            F.expr("y.d % 7").alias("dow"),
        )
        .transform(snapshot, eager=True)  # seasonal means + residuals both read
    )
    seas = base.groupBy("event_type", "dow").agg(
        F.sum("dt7").cast("long").alias("ssum"),
        F.count(F.lit(1)).cast("long").alias("scnt"),
    )
    s7 = _STL_SYMDIV.format(x="ssum", div="DIV", n="scnt")
    comp = (
        base.join(F.broadcast(seas), ["event_type", "dow"])
        .select(
            "event_type",
            "t7",
            F.expr(s7).alias("s7"),
            F.expr(f"dt7 - ({s7})").alias("r7"),
        )
    )
    # energies in DECIMAL(38,0): weekly totals square past BIGINT at
    # warehouse volumes (r07 100x-sweep overflow class); the ppm shares
    # below stay exact integer DIV on the wide values
    en = comp.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr(
            "count(*) * sum(CAST(t7 AS DECIMAL(38,0)) * t7)"
            " - sum(CAST(t7 AS DECIMAL(38,0))) * sum(t7)"
        ).alias("e_t"),
        F.expr(
            "count(*) * sum(CAST(s7 AS DECIMAL(38,0)) * s7)"
            " - sum(CAST(s7 AS DECIMAL(38,0))) * sum(s7)"
        ).alias("e_s"),
        F.expr(
            "count(*) * sum(CAST(r7 AS DECIMAL(38,0)) * r7)"
            " - sum(CAST(r7 AS DECIMAL(38,0))) * sum(r7)"
        ).alias("e_r"),
    )
    tot = "greatest(e_t + e_s + e_r, 1)"
    return en.select(
        "event_type",
        "n_days",
        F.expr(f"CAST(e_t * 1000000 DIV {tot} AS BIGINT)").alias(
            "trend_share_ppm"
        ),
        F.expr(f"CAST(e_s * 1000000 DIV {tot} AS BIGINT)").alias(
            "seasonal_share_ppm"
        ),
        F.expr(f"CAST(e_r * 1000000 DIV {tot} AS BIGINT)").alias(
            "residual_share_ppm"
        ),
    )


# --- SRE error-budget burn-rate windows -------------------------------------

# SLO 99% => 1% error budget; burn multiple = err_rate / 1% = 100*err/total,
# carried as the exact integer burn_x100 = 10000*err // total.  Google SRE
# workbook thresholds: page at 14.4x, ticket at 6x.
_BURN_PAGE_X100 = 1440
_BURN_TICKET_X100 = 600


@register(
    "slo_burn_rate_windows",
    oracle=f"""
    , hh AS (
        SELECT epoch_us(ts) // 3600000000 AS h,
               CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS err
        FROM events GROUP BY 1
    ),
    burn AS (
        SELECT h // 24 AS d,
               10000 * err // greatest(total, 1) AS burn_x100
        FROM hh
    )
    SELECT CAST(d AS BIGINT) AS d,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(CASE WHEN burn_x100 >= {_BURN_PAGE_X100}
                         THEN 1 ELSE 0 END) AS BIGINT) AS hours_paging,
           CAST(sum(CASE WHEN burn_x100 >= {_BURN_TICKET_X100}
                          AND burn_x100 < {_BURN_PAGE_X100}
                         THEN 1 ELSE 0 END) AS BIGINT) AS hours_ticket,
           CAST(max(burn_x100) AS BIGINT) AS max_burn_x100
    FROM burn GROUP BY d
    """,
    doc="SRE error-budget burn-rate monitor: hourly error share of all "
    "events against a 99% SLO, expressed as the exact integer burn "
    "multiple x100 (10000*err//total), rolled up per day with the "
    "Google SRE-workbook alert thresholds (page at 14.4x, ticket at "
    "6x) — the multi-window burn-rate policy that replaces naive "
    "error-percentage alerts.  One hourly hash rollup (map-side "
    "partial over (hour)) then a daily fold; at 100 TB only "
    "|hours| rows survive the first aggregate.",
    tags=("timeseries", "sre"),
)
def slo_burn_rate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hh = ev.groupBy(
        F.expr("unix_micros(ts) DIV 3600000000").alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("err"),
    )
    burn = hh.select(
        F.expr("h DIV 24").alias("d"),
        F.expr("10000 * err DIV greatest(total, 1)").alias("burn_x100"),
    )
    return burn.groupBy(F.col("d").cast("long").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(
            F.when(F.col("burn_x100") >= _BURN_PAGE_X100, 1).otherwise(0)
        ).cast("long").alias("hours_paging"),
        F.sum(
            F.when(
                (F.col("burn_x100") >= _BURN_TICKET_X100)
                & (F.col("burn_x100") < _BURN_PAGE_X100),
                1,
            ).otherwise(0)
        ).cast("long").alias("hours_ticket"),
        F.max("burn_x100").cast("long").alias("max_burn_x100"),
    )


# --- rolling correlation between two event series ---------------------------

_RCORR_N = 14  # window days (fixture spans ~30 days)

_RCORR_EXPR = (
    "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
    "        * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000)"
    " AS BIGINT)"
)


@register(
    "rolling_corr_click_purchase",
    oracle=f"""
    , daily AS (
        SELECT epoch_us(ts) // 86400000000 AS d,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    w AS (
        SELECT d,
               count(*) OVER fr AS n,
               sum(x) OVER fr AS sx, sum(y) OVER fr AS sy,
               sum(x * y) OVER fr AS sxy,
               sum(x * x) OVER fr AS sxx, sum(y * y) OVER fr AS syy
        FROM daily
        WINDOW fr AS (ORDER BY d
                      ROWS BETWEEN {_RCORR_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(d AS BIGINT) AS d, {_RCORR_EXPR} AS corr_x1e6
    FROM w WHERE n = {_RCORR_N}
      AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    doc="14-day rolling Pearson correlation between daily click and "
    "purchase volumes — the engagement-to-conversion coupling "
    "monitor; a correlation collapse while both series look healthy "
    "individually is the earliest funnel-decoupling alarm.  Window "
    "sums of exact integer counts feed the shared one-expression "
    "moment formula (error_load_correlation model); degenerate "
    "windows (zero variance) are excluded identically on both "
    "engines.  One daily rollup then a single ordered window over "
    "|days| rows — the global ORDER BY is over the tiny day "
    "dimension, never events (at 100 TB a year is 365 rows here).",
    tags=("timeseries", "correlation"),
)
def rolling_corr_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) DIV 86400000000").alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    fr = W.orderBy("d").rowsBetween(-(_RCORR_N - 1), 0)
    w = daily.select(
        "d",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum("x").over(fr).alias("sx"),
        F.sum("y").over(fr).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(fr).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(fr).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(fr).alias("syy"),
    )
    return w.filter(
        (F.col("n") == _RCORR_N)
        & (F.expr("n * sxx - sx * sx > 0"))
        & (F.expr("n * syy - sy * sy > 0"))
    ).select(
        F.col("d").cast("long").alias("d"),
        F.expr(_RCORR_EXPR).alias("corr_x1e6"),
    )


# --- MASE: seasonal-naive vs naive forecast skill ----------------------------


@register(
    "forecast_mase_comparison",
    oracle="""
    , daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    j AS (
        SELECT a.event_type,
               abs(a.c - n1.c) AS e_naive,
               abs(a.c - s7.c) AS e_seasonal
        FROM daily a
        JOIN daily n1 ON n1.event_type = a.event_type AND n1.d = a.d - 1
        JOIN daily s7 ON s7.event_type = a.event_type AND s7.d = a.d - 7
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(sum(e_naive) AS BIGINT) AS sae_naive,
           CAST(sum(e_seasonal) AS BIGINT) AS sae_seasonal,
           CAST(sum(e_seasonal) * 1000000 // greatest(sum(e_naive), 1)
               AS BIGINT) AS mase_x1e6
    FROM j GROUP BY event_type
    """,
    doc="Forecast-skill readout: MASE of the seasonal-naive forecast "
    "(y-hat = value 7 days ago) against the naive baseline (value "
    "yesterday) on daily volume per series — MASE < 1e6 (ppm scale) "
    "means weekly seasonality carries real signal and the "
    "seasonal_naive_forecast feed is earning its keep; > 1e6 means "
    "plain persistence wins.  Absolute errors are exact integer "
    "counts, the ratio exact ppm (days lacking either lag drop from "
    "BOTH numerator and denominator, so the comparison is paired).  "
    "Two self-equi-joins on (series, day-offset) over the tiny daily "
    "rollup — calendar-lag joins, no windows.",
    tags=("timeseries", "forecasting"),
)
def forecast_mase_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    j = (
        daily.alias("a")
        .join(
            daily.alias("n1"),
            F.expr("n1.event_type = a.event_type AND n1.d = a.d - 1"),
        )
        .join(
            daily.alias("s7"),
            F.expr("s7.event_type = a.event_type AND s7.d = a.d - 7"),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.abs(F.col("a.c") - F.col("n1.c")).alias("e_naive"),
            F.abs(F.col("a.c") - F.col("s7.c")).alias("e_seasonal"),
        )
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_scored"),
        F.sum("e_naive").cast("long").alias("sae_naive"),
        F.sum("e_seasonal").cast("long").alias("sae_seasonal"),
        F.expr(
            "CAST(sum(e_seasonal) * 1000000"
            " DIV greatest(sum(e_naive), 1) AS BIGINT)"
        ).alias("mase_x1e6"),
    )


# --- best lead-lag between click and purchase volumes -----------------------

_LAG_MAX_DAYS = 7

_LAG_CORR = (
    "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
    "        * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000)"
    " AS BIGINT)"
)


@register(
    "best_lag_correlation",
    oracle=f"""
    , daily AS (
        SELECT epoch_us(ts) // 86400000000 AS d,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT lg.lag, a.x, b.y
        FROM (SELECT unnest(range(0, {_LAG_MAX_DAYS + 1})) AS lag) lg
        JOIN daily a ON TRUE
        JOIN daily b ON b.d = a.d + lg.lag
    ),
    mo AS (
        SELECT lag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS BIGINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS BIGINT) AS syy
        FROM lagged GROUP BY lag
    ),
    scored AS (
        SELECT CAST(lag AS BIGINT) AS lag_days, n AS n_pairs,
               {_LAG_CORR} AS corr_x1e6
        FROM mo
        WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    )
    SELECT lag_days, n_pairs, corr_x1e6,
           CASE WHEN row_number() OVER (ORDER BY corr_x1e6 DESC, lag_days)
                     = 1 THEN 1 ELSE 0 END AS is_best
    FROM scored
    """,
    doc="Lead-lag scan: Pearson correlation between daily click volume "
    "and purchase volume shifted 0..{_LAG_MAX_DAYS} days ahead — the "
    "argmax lag is the empirical engagement-to-conversion delay "
    "(lag 0 high = same-day impulse buying; a later peak = "
    "consideration window), the cross-correlation analysis behind "
    "marketing-mix timing.  Each lag is a calendar-offset equi-join "
    "over the tiny daily rollup; moments are exact integers feeding "
    "the shared one-expression correlation; is_best breaks ties on "
    "the (corr DESC, lag) total order.",
    tags=("timeseries", "correlation"),
)
def best_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) DIV 86400000000").alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    ).transform(snapshot, eager=False)
    lg = spark.range(0, _LAG_MAX_DAYS + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    lagged = (
        daily.alias("a")
        .crossJoin(F.broadcast(lg))
        .join(
            daily.alias("b"),
            F.expr("b.d = a.d + lag"),
        )
        .select("lag", F.col("a.x").alias("x"), F.col("b.y").alias("y"))
    )
    mo = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).cast("long").alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).cast("long").alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).cast("long").alias("syy"),
    )
    scored = mo.filter(
        F.expr("n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0")
    ).select(
        F.col("lag").cast("long").alias("lag_days"),
        F.col("n").alias("n_pairs"),
        F.expr(_LAG_CORR).alias("corr_x1e6"),
    )
    wbest = W.orderBy(F.desc("corr_x1e6"), F.asc("lag_days"))
    return scored.select(
        "lag_days",
        "n_pairs",
        "corr_x1e6",
        F.when(F.row_number().over(wbest) == 1, 1).otherwise(0).alias(
            "is_best"
        ),
    )


# --- record-high days per series --------------------------------------------


@register(
    "record_high_days",
    oracle="""
    , daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT event_type, d, c,
               max(c) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
        FROM daily
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN prev_max IS NULL OR c > prev_max
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_record_days,
           CAST(max(CASE WHEN prev_max IS NULL OR c > prev_max
                         THEN d END) AS BIGINT) AS last_record_day,
           CAST(max(c) AS BIGINT) AS all_time_high
    FROM r GROUP BY event_type
    """,
    doc="Record-day census per series: how many days set a new "
    "all-time volume high, and when the last record fell — fast-"
    "growing streams break records continually (n_record_days "
    "tracks log n for stationary noise but stays linear under "
    "growth: record statistics are a distribution-free growth "
    "detector, complementing hockey_stick_ratio's fixed-window "
    "view).  One running-max window per series (keyed partitions, "
    "frame ends 1 PRECEDING so the day never beats itself), then a "
    "per-series rollup.",
    tags=("timeseries", "growth"),
)
def record_high_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    r = daily.withColumn("prev_max", F.max("c").over(w))
    is_rec = F.col("prev_max").isNull() | (F.col("c") > F.col("prev_max"))
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(is_rec, 1).otherwise(0)).cast("long").alias(
            "n_record_days"
        ),
        F.max(F.when(is_rec, F.col("d"))).cast("long").alias(
            "last_record_day"
        ),
        F.max("c").cast("long").alias("all_time_high"),
    )


# --- Granger-lite causality: does click volume predict purchases? ------------

# centered moment products, all exact BIGINT:
#   A = n*Saa - Sa^2   B = n*Sbb - Sb^2   C = n*Sab - Sa*Sb
#   P = n*Sya - Sy*Sa  Q = n*Syb - Sy*Sb  Y = n*Syy - Sy^2
# restricted (y ~ y_lag):        RSSr * A  = Y*A - P^2            (= Rr)
# full (y ~ y_lag + x_lag):      RSSf * D' = Y*D' - P^2*B
#                                            + 2*P*Q*C - Q^2*A    (= Rf)
# with D' = A*B - C^2; the F statistic is assembled from (Rr, Rf, A, D')
# in ONE textually-shared float expression (exact ints in, one rounding).
_GRANGER_F = (
    "CAST(floor("
    " (CAST(rr AS DOUBLE) / CAST(aa AS DOUBLE)"
    "  - CAST(rf AS DOUBLE) / CAST(dd AS DOUBLE))"
    " * CAST(n - 3 AS DOUBLE) * 100.0"
    " / (CAST(rf AS DOUBLE) / CAST(dd AS DOUBLE))) AS BIGINT)"
)


@register(
    "granger_click_purchase",
    oracle=f"""
    , daily AS (
        SELECT epoch_us(ts) // 86400000000 AS d,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS clicks,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS buys
        FROM events GROUP BY 1
    ),
    tri AS (
        SELECT t.buys AS y, l.buys AS a, l.clicks AS b
        FROM daily t JOIN daily l ON l.d = t.d - 1
    ),
    mo AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy, CAST(sum(a) AS BIGINT) AS sa,
               CAST(sum(b) AS BIGINT) AS sb,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(a * a) AS BIGINT) AS saa,
               CAST(sum(b * b) AS BIGINT) AS sbb,
               CAST(sum(y * a) AS BIGINT) AS sya,
               CAST(sum(y * b) AS BIGINT) AS syb,
               CAST(sum(a * b) AS BIGINT) AS sab
        FROM tri
    ),
    c AS (
        SELECT n,
               n * saa - sa * sa AS aa, n * sbb - sb * sb AS bb,
               n * sab - sa * sb AS cc,
               n * sya - sy * sa AS p, n * syb - sy * sb AS q,
               n * syy - sy * sy AS yy
        FROM mo
    ),
    fin AS (
        SELECT n,
               CAST(yy AS HUGEINT) * aa - CAST(p AS HUGEINT) * p AS rr,
               CAST(yy AS HUGEINT) * (CAST(aa AS HUGEINT) * bb - CAST(cc AS HUGEINT) * cc)
                   - CAST(p AS HUGEINT) * p * bb
                   + 2 * CAST(p AS HUGEINT) * q * cc
                   - CAST(q AS HUGEINT) * q * aa AS rf,
               CAST(aa AS HUGEINT) AS aa,
               CAST(aa AS HUGEINT) * bb - CAST(cc AS HUGEINT) * cc AS dd
        FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_days, {_GRANGER_F} AS granger_f_x100
    FROM fin
    """,
    doc="Granger-style predictive-causality test: does yesterday's "
    "click volume improve a purchase forecast beyond yesterday's "
    "purchases alone?  Both OLS fits (restricted y~y_lag, full "
    "y~y_lag+x_lag) are solved in CLOSED FORM from exact integer "
    "moment sums via Cramer's rule — residual sums of squares stay "
    "exact int128 numerators over integer denominators, and the F "
    "statistic is assembled in one textually-shared float "
    "expression, so the verdict is bit-identical cross-engine "
    "(F >> 3.9 at these dof = clicks lead purchases; near 0 = no "
    "signal beyond autocorrelation).  One daily rollup, one "
    "calendar-lag self-join, a single-row moment fold — the classic "
    "econometric test as a 3-stage aggregate.",
    tags=("timeseries", "causal"),
)
def granger_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) DIV 86400000000").alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("clicks"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("buys"),
    )
    tri = (
        daily.alias("t")
        .join(daily.alias("l"), F.expr("l.d = t.d - 1"))
        .select(
            F.col("t.buys").alias("y"),
            F.col("l.buys").alias("a"),
            F.col("l.clicks").alias("b"),
        )
    )
    mo = tri.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sbb"),
        F.sum(F.col("y") * F.col("a")).cast("long").alias("sya"),
        F.sum(F.col("y") * F.col("b")).cast("long").alias("syb"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("sab"),
    )
    c = mo.select(
        "n",
        F.expr("n * saa - sa * sa").alias("aa"),
        F.expr("n * sbb - sb * sb").alias("bb"),
        F.expr("n * sab - sa * sb").alias("cc"),
        F.expr("n * sya - sy * sa").alias("p"),
        F.expr("n * syb - sy * sb").alias("q"),
        F.expr("n * syy - sy * sy").alias("yy"),
    )
    fin = c.select(
        "n",
        F.expr(
            "CAST(yy AS DECIMAL(38,0)) * aa"
            " - CAST(p AS DECIMAL(38,0)) * p"
        ).alias("rr"),
        F.expr(
            "CAST(yy AS DECIMAL(38,0))"
            " * (CAST(aa AS DECIMAL(38,0)) * bb"
            "    - CAST(cc AS DECIMAL(38,0)) * cc)"
            " - CAST(p AS DECIMAL(38,0)) * p * bb"
            " + 2 * CAST(p AS DECIMAL(38,0)) * q * cc"
            " - CAST(q AS DECIMAL(38,0)) * q * aa"
        ).alias("rf"),
        F.expr("CAST(aa AS DECIMAL(38,0))").alias("aa"),
        F.expr(
            "CAST(aa AS DECIMAL(38,0)) * bb"
            " - CAST(cc AS DECIMAL(38,0)) * cc"
        ).alias("dd"),
    )
    return fin.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr(_GRANGER_F).alias("granger_f_x100"),
    )


# --- diurnal-profile drift between calendar halves --------------------------

_DIURNAL_DRIFT_COS = (
    "CAST(floor(CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))"
    " * 1000000) AS BIGINT)"
)


@register(
    "diurnal_profile_drift",
    oracle=f"""
    , hh AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 % 24 AS hod,
               epoch_us(ts) // 86400000000 AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    sp AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM hh),
    prof AS (
        SELECT event_type, hod,
               CAST(sum(CASE WHEN d < mid THEN c ELSE 0 END) AS BIGINT)
                   AS a,
               CAST(sum(CASE WHEN d >= mid THEN c ELSE 0 END) AS BIGINT)
                   AS b
        FROM hh CROSS JOIN sp GROUP BY event_type, hod
    ),
    agg AS (
        SELECT event_type,
               CAST(sum(CAST(a AS HUGEINT) * b) AS BIGINT) AS dot,
               CAST(sum(CAST(a AS HUGEINT) * a) AS BIGINT) AS na2,
               CAST(sum(CAST(b AS HUGEINT) * b) AS BIGINT) AS nb2
        FROM prof GROUP BY event_type
    )
    SELECT event_type, {_DIURNAL_DRIFT_COS} AS profile_cos_x1e6,
           CAST(1000000 - {_DIURNAL_DRIFT_COS} AS BIGINT) AS drift_x1e6
    FROM agg
    WHERE na2 > 0 AND nb2 > 0
    """,
    doc="Shape-of-day drift monitor: cosine similarity between each "
    "series' 24-bin hour-of-day volume profile in the first vs "
    "second calendar half — invariant to level changes (unlike "
    "hellinger_half_drift on values or volume deltas), so it "
    "isolates BEHAVIORAL rhythm shifts: a nightly batch job moving, "
    "a user-base timezone mix changing.  The profile dot product "
    "and norms are exact int128-folded integers; one "
    "textually-shared sqrt expression produces the similarity.  "
    "Hour-of-day from pure integer epoch math; one (type, hod, "
    "half) rollup then a 24-row fold per series.",
    tags=("timeseries", "drift"),
)
def diurnal_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hh = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 3600000000 % 24").alias("hod"),
        F.expr("unix_micros(ts) DIV 86400000000").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    sp = hh.agg(F.expr("(min(d) + max(d) + 1) DIV 2").alias("mid"))
    prof = (
        hh.crossJoin(F.broadcast(sp))
        .groupBy("event_type", "hod")
        .agg(
            F.sum(F.when(F.col("d") < F.col("mid"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("d") >= F.col("mid"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("b"),
        )
    )
    agg = prof.groupBy("event_type").agg(
        F.sum(F.expr("CAST(a AS DECIMAL(38,0)) * b")).cast("long").alias("dot"),
        F.sum(F.expr("CAST(a AS DECIMAL(38,0)) * a")).cast("long").alias("na2"),
        F.sum(F.expr("CAST(b AS DECIMAL(38,0)) * b")).cast("long").alias("nb2"),
    )
    return agg.filter(
        (F.col("na2") > 0) & (F.col("nb2") > 0)
    ).select(
        "event_type",
        F.expr(_DIURNAL_DRIFT_COS).alias("profile_cos_x1e6"),
        F.expr(f"CAST(1000000 - {_DIURNAL_DRIFT_COS} AS BIGINT)").alias(
            "drift_x1e6"
        ),
    )


# --- synchronized bursts: many distinct users in the same second ------------

_SYNC_MIN_USERS = 3


@register(
    "synchronized_burst_seconds",
    oracle=f"""
    , sec AS (
        SELECT epoch_us(ts) // 1000000 AS s,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    )
    SELECT CAST(s // 86400 AS BIGINT) AS d,
           CAST(count(*) AS BIGINT) AS n_seconds_active,
           CAST(sum(CASE WHEN n_users >= {_SYNC_MIN_USERS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_seconds,
           CAST(max(n_users) AS BIGINT) AS max_users_one_second,
           CAST(max(n_events) AS BIGINT) AS max_events_one_second
    FROM sec GROUP BY 1
    """,
    doc="Coordination detector: seconds in which {_SYNC_MIN_USERS}+ "
    "DISTINCT users acted simultaneously, per day — organic traffic "
    "spreads across seconds, while bot fleets, cache stampedes and "
    "push-notification fanouts synchronize to the second; the "
    "max-users-per-second column sizes the worst spike (the "
    "complement of peak_load_5min, which smooths exactly the "
    "signature this query looks for).  One (second) rollup with a "
    "distinct-user measure (partial expand), then a daily fold — "
    "at 100 TB only active seconds survive the first aggregate.",
    tags=("timeseries", "anomaly"),
)
def synchronized_burst_seconds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sec = ev.groupBy(
        F.expr("unix_micros(ts) DIV 1000000").alias("s")
    ).agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return sec.groupBy(
        F.expr("CAST(s DIV 86400 AS BIGINT)").alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_seconds_active"),
        F.sum(
            F.when(F.col("n_users") >= _SYNC_MIN_USERS, 1).otherwise(0)
        ).cast("long").alias("n_burst_seconds"),
        F.max("n_users").cast("long").alias("max_users_one_second"),
        F.max("n_events").cast("long").alias("max_events_one_second"),
    )


# --- longest calendar inactivity gap per series -----------------------------


@register(
    "max_inactivity_gap",
    oracle="""
    , daily AS (
        SELECT DISTINCT event_type,
               epoch_us(ts) // 86400000000 AS d
        FROM events
    ),
    g AS (
        SELECT event_type,
               d - lag(d) OVER (PARTITION BY event_type ORDER BY d) - 1
                   AS gap
        FROM daily
    )
    SELECT event_type,
           CAST(count(*) + 1 AS BIGINT) AS n_active_days,
           CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_days,
           CAST(coalesce(sum(gap), 0) AS BIGINT) AS total_silent_days
    FROM g WHERE gap IS NOT NULL
    GROUP BY event_type
    """,
    doc="Availability census per series: the longest run of consecutive "
    "calendar days with ZERO events and the total silent days — the "
    "outage/seasonal-shutdown fingerprint a freshness SLO monitors "
    "(complements sequence_gap_audit, which looks for holes in the "
    "id sequence, not the calendar).  Computed without a day spine: "
    "gaps are d - lag(d) - 1 over each series' active days, one "
    "keyed window over the tiny (type, day) distinct rollup.",
    tags=("timeseries", "freshness"),
)
def max_inactivity_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("d"),
    ).distinct()
    w = W.partitionBy("event_type").orderBy("d")
    g = daily.select(
        "event_type",
        (F.col("d") - F.lag("d", 1).over(w) - 1).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return g.groupBy("event_type").agg(
        (F.count(F.lit(1)) + 1).cast("long").alias("n_active_days"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias(
            "max_gap_days"
        ),
        F.coalesce(F.sum("gap"), F.lit(0)).cast("long").alias(
            "total_silent_days"
        ),
    )


# --- variance-ratio (random walk) test over daily revenue -------------------

_VR_QS = [2, 5, 10]

# VR(q) = Var(q-period sums) / (q * Var(1-period)), both variances from
# exact integer moment sums over DOLLAR-quantized daily revenue changes:
# vr_x100 = floor( (n1 * (nq*sq2 - sq*sq)) * 100
#                  / (q * nq * (n1*s12 - s1*s1)) ) -- one shared expression.
_VR_EXPR = (
    "CAST(floor(CAST(n1 AS DOUBLE) * (CAST(nq AS DOUBLE)"
    " * CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))"
    " * 100.0 / (CAST(q AS DOUBLE) * CAST(nq AS DOUBLE)"
    " * (CAST(n1 AS DOUBLE) * CAST(s12 AS DOUBLE)"
    "    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))) AS BIGINT)"
)


@register(
    "variance_ratio_test",
    oracle=f"""
    , dr AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS d,
               CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY 1
    ),
    chg AS (
        SELECT a.d, a.rev - b.rev AS r1
        FROM dr a JOIN dr b ON b.d = a.d - 1
    ),
    base AS (
        SELECT CAST(count(*) AS BIGINT) AS n1,
               CAST(sum(r1) AS BIGINT) AS s1,
               CAST(sum(CAST(r1 AS HUGEINT) * r1) AS BIGINT) AS s12
        FROM chg
    ),
    qs AS (SELECT * FROM (VALUES {", ".join(f"({q})" for q in _VR_QS)}) AS t(q)),
    qchg AS (
        SELECT qs.q, a.d, a.rev - b.rev AS rq
        FROM qs
        JOIN dr a ON TRUE
        JOIN dr b ON b.d = a.d - qs.q
    ),
    qmo AS (
        SELECT q,
               CAST(count(*) AS BIGINT) AS nq,
               CAST(sum(rq) AS BIGINT) AS sq,
               CAST(sum(CAST(rq AS HUGEINT) * rq) AS BIGINT) AS sq2
        FROM qchg GROUP BY q
    )
    SELECT CAST(q AS BIGINT) AS q, nq AS n_windows,
           {_VR_EXPR} AS vr_x100
    FROM qmo CROSS JOIN base
    """,
    doc="Lo-MacKinlay variance-ratio test on daily revenue changes: "
    "VR(q) = Var(q-day change) / (q * Var(1-day change)) for "
    "q = 2/5/10 — VR near 100 (x100 scale) is random-walk behavior, "
    "VR << 100 mean reversion (stabilizing demand), VR >> 100 "
    "trending/momentum; the standard market-efficiency diagnostic "
    "applied to operational revenue, and orthogonal to the "
    "autocorrelation and decomposition views already in the suite.  "
    "All moments are exact integers over whole-dollar revenue "
    "(int128 squares); each q is a calendar-offset self-join on "
    "the tiny day table; the ratio is one shared float "
    "expression.",
    tags=("timeseries", "statistics"),
)
def variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dr = orders.groupBy(
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice"), 0).cast("long"))
        .cast("long")
        .alias("rev")
    ).transform(snapshot, eager=False)
    chg = (
        dr.alias("a")
        .join(dr.alias("b"), F.expr("b.d = a.d - 1"))
        .select((F.col("a.rev") - F.col("b.rev")).alias("r1"))
    )
    base = chg.agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum("r1").cast("long").alias("s1"),
        F.sum(F.expr("CAST(r1 AS DECIMAL(38,0)) * r1")).cast("long").alias(
            "s12"
        ),
    )
    qs = spark.createDataFrame([(q,) for q in _VR_QS], "q INT")
    qchg = (
        qs.crossJoin(dr.alias("a"))
        .join(dr.alias("b"), F.expr("b.d = a.d - q"))
        .select("q", (F.col("a.rev") - F.col("b.rev")).alias("rq"))
    )
    qmo = qchg.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("nq"),
        F.sum("rq").cast("long").alias("sq"),
        F.sum(F.expr("CAST(rq AS DECIMAL(38,0)) * rq")).cast("long").alias(
            "sq2"
        ),
    )
    return qmo.crossJoin(F.broadcast(base)).select(
        F.col("q").cast("long").alias("q"),
        F.col("nq").alias("n_windows"),
        F.expr(_VR_EXPR).alias("vr_x100"),
    )


# --- Wald-Wolfowitz runs test on daily revenue ------------------------------

# z*100 = (R - mu) / sigma with mu = 2*n1*n2/n + 1 and
# sigma^2 = 2*n1*n2*(2*n1*n2 - n) / (n^2*(n-1)); assembled from exact
# integer counts in one shared float expression.
_RUNS_Z = (
    "CAST(floor((CAST(r AS DOUBLE)"
    " - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "    / CAST(n AS DOUBLE) + 1.0))"
    " / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "           - CAST(n AS DOUBLE))"
    "        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    "           * (CAST(n AS DOUBLE) - 1.0))) * 100.0) AS BIGINT)"
)


@register(
    "runs_test_daily_revenue",
    oracle=f"""
    , dr AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS d,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    med AS (
        SELECT rev AS m FROM (
            SELECT rev, row_number() OVER (ORDER BY rev, d) AS rn,
                   count(*) OVER () AS n
            FROM dr
        ) WHERE rn = (n + 1) // 2
    ),
    sgn AS (
        SELECT d, CASE WHEN rev > (SELECT m FROM med) THEN 1 ELSE 0 END
                   AS above
        FROM dr
    ),
    runs AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(above) AS BIGINT) AS n1,
               CAST(sum(1 - above) AS BIGINT) AS n2,
               CAST(1 + sum(CASE WHEN above <> prev THEN 1 ELSE 0 END)
                   AS BIGINT) AS r
        FROM (
            SELECT above,
                   lag(above) OVER (ORDER BY d) AS prev
            FROM sgn
        ) WHERE prev IS NOT NULL OR TRUE
    )
    SELECT n AS n_days, n1 AS n_above, n2 AS n_below, r AS n_runs,
           {_RUNS_Z} AS z_x100
    FROM runs
    """,
    doc="Wald-Wolfowitz runs test for randomness of daily revenue "
    "around its median: too FEW runs of above/below-median days "
    "(z << 0) means persistent regimes (trending/clustered demand), "
    "too many (z >> 0) means oscillation — the distribution-free "
    "sanity check on i.i.d. assumptions that percentile and "
    "variance metrics silently make.  The median is the exact "
    "nearest-rank element, run counting is one lag window over the "
    "day dimension, and the normal-approximation z assembles from "
    "four exact integers in one shared float expression.",
    tags=("timeseries", "statistics"),
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dr = orders.groupBy(
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("rev")
    )
    wr = W.orderBy("rev", "d")
    wn = W.partitionBy()
    med = (
        dr.withColumn("rn", F.row_number().over(wr))
        .withColumn("nn", F.count(F.lit(1)).over(wn))
        .filter(F.expr("rn = (nn + 1) DIV 2"))
        .select(F.col("rev").alias("m"))
    )
    sgn = dr.crossJoin(F.broadcast(med)).select(
        "d", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("above")
    )
    wd = W.orderBy("d")
    runs = (
        sgn.withColumn("prev", F.lag("above", 1).over(wd))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("above").cast("long").alias("n1"),
            F.sum(1 - F.col("above")).cast("long").alias("n2"),
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.col("above") != F.col("prev"), 1
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias("r"),
        )
    )
    return runs.select(
        F.col("n").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.expr(_RUNS_Z).alias("z_x100"),
    )


# --- error-recovery-time percentiles ----------------------------------------


@register(
    "error_recovery_percentiles",
    oracle="""
    , ev AS (
        SELECT user_id, event_type, ts, event_id,
               min(CASE WHEN event_type <> 'error' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_ok_ts
        FROM events
    ),
    rec AS (
        SELECT epoch_us(next_ok_ts) - epoch_us(ts) AS rec_us
        FROM ev
        WHERE event_type = 'error' AND next_ok_ts IS NOT NULL
    ),
    r AS (
        SELECT rec_us,
               row_number() OVER (ORDER BY rec_us) AS rn,
               count(*) OVER () AS n
        FROM rec
    )
    SELECT CAST(max(n) AS BIGINT) AS n_errors_recovered,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN rec_us END)
               AS BIGINT) AS p50_us,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN rec_us END)
               AS BIGINT) AS p90_us,
           CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN rec_us END)
               AS BIGINT) AS p99_us
    FROM r
    """,
    doc="Recovery-time readout: for every error event, the time until "
    "the SAME user's next non-error event (min of non-error "
    "timestamps over the strictly-following frame of the user "
    "timeline — the engine-portable form of lead-ignore-nulls), summarized as exact nearest-rank P50/P90/P99 — the "
    "user-perceived MTTR that error counts alone miss (many errors "
    "with instant recovery beat few errors that strand users).  "
    "One user-keyed window pass, then the rank-percentile fold over "
    "the recovered-error subset; rec_us is a deterministic "
    "microsecond integer.  Unrecovered errors (no later activity) "
    "are excluded identically on both engines.",
    tags=("timeseries", "reliability"),
)
def error_recovery_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # "min over the strictly-following frame" as a REVERSED running
    # frame: Spark re-evaluates shrinking (1..unboundedFollowing)
    # frames from scratch per row — O(n^2) per user timeline — while
    # the descending-order growing frame (unboundedPreceding..-1)
    # computes the identical suffix-min incrementally.
    w_rev = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    nxt = ev.select(
        "event_type",
        "ts",
        F.min(
            F.when(F.col("event_type") != "error", F.col("ts"))
        ).over(w_rev).alias("next_ok_ts"),
    )
    rec = nxt.filter(
        (F.col("event_type") == "error") & F.col("next_ok_ts").isNotNull()
    ).select(
        (
            F.expr("unix_micros(next_ok_ts) - unix_micros(ts)")
        ).alias("rec_us")
    )
    # nearest-rank percentiles: fold to value grain (count per
    # distinct rec_us), running sum of the counts, then the value at
    # rank k is the one whose cumulative range (cum - c, cum] contains
    # k — identical to row_number selection for any tie order
    vc = rec.groupBy("rec_us").agg(F.count(F.lit(1)).alias("c"))
    w_v = W.orderBy("rec_us")
    r = vc.select(
        "rec_us",
        "c",
        F.sum("c").over(w_v.rowsBetween(W.unboundedPreceding, 0)).alias("cr"),
        F.sum("c")
        .over(w_v.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n"),
    )

    def at_rank(k_expr: str, name: str):
        return F.max(
            F.when(
                F.expr(f"cr - c < {k_expr} AND cr >= {k_expr}"),
                F.col("rec_us"),
            )
        ).cast("long").alias(name)

    return r.agg(
        F.max("n").cast("long").alias("n_errors_recovered"),
        at_rank("(n + 1) DIV 2", "p50_us"),
        at_rank("(9 * n + 9) DIV 10", "p90_us"),
        at_rank("(99 * n + 99) DIV 100", "p99_us"),
    )


# --- annual (12-month) first-harmonic of shipping volume --------------------

_ANNUAL_COS = [1000000, 866025, 500000, 0, -500000, -866025,
               -1000000, -866025, -500000, 0, 500000, 866025]
_ANNUAL_SIN = [0, 500000, 866025, 1000000, 866025, 500000,
               0, -500000, -866025, -1000000, -866025, -500000]
_ANNUAL_AMP = (
    "CAST(floor(2.0 * sqrt(CAST(sc_e6 AS DOUBLE) * CAST(sc_e6 AS DOUBLE)"
    " + CAST(ss_e6 AS DOUBLE) * CAST(ss_e6 AS DOUBLE))"
    " / CAST(n_units AS DOUBLE)) AS BIGINT)"
)


@register(
    "annual_harmonic_shipping",
    oracle=f"""
    , mm AS (
        SELECT l_returnflag,
               CAST(EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS m,
               CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
                   AS q
        FROM lineitem GROUP BY 1, 2
    ),
    agg AS (
        SELECT l_returnflag,
               sum(q) AS n_units,
               sum(q * list_extract({_ANNUAL_COS},
                   CAST(m + 1 AS INTEGER))) AS sc_e6,
               sum(q * list_extract({_ANNUAL_SIN},
                   CAST(m + 1 AS INTEGER))) AS ss_e6
        FROM mm GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n_units AS BIGINT) AS n_units,
           CAST(sc_e6 AS BIGINT) AS sc_e6,
           CAST(ss_e6 AS BIGINT) AS ss_e6,
           {_ANNUAL_AMP} AS annual_ppm
    FROM agg
    """,
    doc="Annual first harmonic of shipping volume per return flag: the "
    "12-month DFT bin via the precomputed integer cos/sin table "
    "(the diurnal_dft_power pattern at yearly frequency) — "
    "2*|X_1|/n in ppm is the amplitude of the yearly shipping "
    "cycle, the one-number seasonality strength that decides "
    "whether the seasonal_index_monthly correction is worth "
    "applying per segment.  Exact BIGINT dot products against the "
    "shared literal basis; month-of-year from the calendar (UTC-"
    "pinned), 12 rows per group reach the final fold.",
    tags=("timeseries", "spectral"),
)
def annual_harmonic_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cos_arr = F.array(*[F.lit(v).cast("long") for v in _ANNUAL_COS])
    sin_arr = F.array(*[F.lit(v).cast("long") for v in _ANNUAL_SIN])
    mm = li.groupBy(
        "l_returnflag",
        F.expr("CAST(month(l_shipdate) - 1 AS BIGINT)").alias("m"),
    ).agg(
        F.sum(F.round(F.col("l_quantity"), 0).cast("long"))
        .cast("long")
        .alias("q")
    )
    agg = mm.groupBy("l_returnflag").agg(
        F.sum("q").alias("n_units"),
        F.sum(
            F.col("q") * F.element_at(cos_arr, (F.col("m") + 1).cast("int"))
        ).alias("sc_e6"),
        F.sum(
            F.col("q") * F.element_at(sin_arr, (F.col("m") + 1).cast("int"))
        ).alias("ss_e6"),
    )
    return agg.select(
        "l_returnflag",
        F.col("n_units").cast("long").alias("n_units"),
        F.col("sc_e6").cast("long").alias("sc_e6"),
        F.col("ss_e6").cast("long").alias("ss_e6"),
        F.expr(_ANNUAL_AMP).alias("annual_ppm"),
    )


# --- user activation latency (first -> 5th event) ---------------------------

_ACTIVATE_N = 5


@register(
    "user_activation_latency",
    oracle=f"""
    , r AS (
        SELECT user_id,
               epoch_us(ts) // 86400000000 AS d,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    lat AS (
        SELECT user_id,
               max(CASE WHEN rn = {_ACTIVATE_N} THEN d END)
               - max(CASE WHEN rn = 1 THEN d END) AS days
        FROM r WHERE rn = 1 OR rn = {_ACTIVATE_N}
        GROUP BY user_id
        HAVING max(CASE WHEN rn = {_ACTIVATE_N} THEN d END) IS NOT NULL
    ),
    q AS (
        SELECT days,
               row_number() OVER (ORDER BY days, user_id) AS rn,
               count(*) OVER () AS n
        FROM lat
    )
    SELECT CAST(max(n) AS BIGINT) AS n_activated_users,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN days END) AS BIGINT)
               AS p50_days,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN days END)
               AS BIGINT) AS p90_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM q
    """,
    doc="Activation-latency readout: days from each user's first event "
    "to their {_ACTIVATE_N}th (the product-led-growth 'time to "
    "activation' metric), summarized as exact nearest-rank P50/P90 "
    "over activated users — slow medians argue for onboarding "
    "work, a long P90 tail for re-engagement triggers; the "
    "user-side twin of part_adoption_latency_histogram.  One "
    "user-keyed rank window (rows 1 and {_ACTIVATE_N} only "
    "survive), one conditional pivot, one percentile fold.",
    tags=("timeseries", "activation"),
)
def user_activation_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id",
        F.expr("unix_micros(ts) DIV 86400000000").alias("d"),
        F.row_number().over(w).alias("rn"),
    ).filter((F.col("rn") == 1) | (F.col("rn") == _ACTIVATE_N))
    lat = (
        r.groupBy("user_id")
        .agg(
            (
                F.max(F.when(F.col("rn") == _ACTIVATE_N, F.col("d")))
                - F.max(F.when(F.col("rn") == 1, F.col("d")))
            ).alias("days")
        )
        .filter(F.col("days").isNotNull())
    )
    # nearest-rank percentiles: value-grain counts + running sum, then
    # value-at-rank-k by cumulative range (ties on days are
    # rank-order-insensitive by value)
    vc = lat.groupBy("days").agg(F.count(F.lit(1)).alias("c"))
    w_v = W.orderBy("days")
    q = vc.select(
        "days",
        "c",
        F.sum("c").over(w_v.rowsBetween(W.unboundedPreceding, 0)).alias("cr"),
        F.sum("c")
        .over(w_v.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n"),
    )
    return q.agg(
        F.max("n").cast("long").alias("n_activated_users"),
        F.max(
            F.when(
                F.expr("cr - c < (n + 1) DIV 2 AND cr >= (n + 1) DIV 2"),
                F.col("days"),
            )
        ).cast("long").alias("p50_days"),
        F.max(
            F.when(
                F.expr(
                    "cr - c < (9 * n + 9) DIV 10"
                    " AND cr >= (9 * n + 9) DIV 10"
                ),
                F.col("days"),
            )
        ).cast("long").alias("p90_days"),
        F.max("days").cast("long").alias("max_days"),
    )


# --- circadian consistency per user (circular resultant length) -------------

_CIRC_R = (
    "CAST(floor(sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)"
    " + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * 1000000.0) * 1000000.0) AS BIGINT)"
)


@register(
    "circadian_consistency_histogram",
    oracle=f"""
    , hh AS (
        SELECT user_id,
               CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) AS h
        FROM events
    ),
    ur AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(list_extract({_DIURNAL_COS},
                   CAST(h + 1 AS INTEGER))) AS BIGINT) AS sc,
               CAST(sum(list_extract({_DIURNAL_SIN},
                   CAST(h + 1 AS INTEGER))) AS BIGINT) AS ss
        FROM hh GROUP BY user_id HAVING count(*) >= 10
    ),
    r AS (SELECT {_CIRC_R} AS r_ppm FROM ur)
    SELECT CAST(least(r_ppm // 100000, 9) AS BIGINT) AS r_band,
           CAST(count(*) AS BIGINT) AS n_users
    FROM r GROUP BY least(r_ppm // 100000, 9)
    """,
    doc="Circadian-consistency histogram: per user (>= 10 events) the "
    "circular mean resultant length R of their event hours — R near "
    "1e6 (ppm) means a tightly repeated daily time slot (strong "
    "personal rhythm, or a cron job), R near 0 a uniform spread — "
    "banded into 10 buckets; circular statistics are the correct "
    "tool where hour-of-day variance fails (23h and 1h are close).  "
    "Reuses the diurnal integer cos/sin tables: per-user sums are "
    "exact BIGINT dot products, R is one shared sqrt expression, "
    "and the histogram is a tiny fold over the user dimension.",
    tags=("timeseries", "behavior"),
)
def circadian_consistency_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cos_arr = F.array(*[F.lit(v).cast("long") for v in _DIURNAL_COS])
    sin_arr = F.array(*[F.lit(v).cast("long") for v in _DIURNAL_SIN])
    hh = ev.select(
        "user_id",
        F.expr("CAST(unix_micros(ts) DIV 3600000000 % 24 AS BIGINT)").alias(
            "h"
        ),
    )
    ur = (
        hh.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.element_at(cos_arr, (F.col("h") + 1).cast("int"))
            ).cast("long").alias("sc"),
            F.sum(
                F.element_at(sin_arr, (F.col("h") + 1).cast("int"))
            ).cast("long").alias("ss"),
        )
        .filter(F.col("n") >= 10)
    )
    r = ur.select(F.expr(_CIRC_R).alias("r_ppm"))
    return r.groupBy(
        F.expr("CAST(least(r_ppm DIV 100000, 9) AS BIGINT)").alias("r_band")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


# --- self-excitation (same-type burst lift) per event type -------------------


@register(
    "self_excitation_by_type",
    oracle="""
    , seq AS (
        SELECT user_id, event_type, ts, event_id,
               lead(event_type) OVER w AS next_type,
               epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pairs AS (SELECT * FROM seq WHERE next_type IS NOT NULL),
    s AS (
        SELECT event_type,
               count(*) AS n_pairs,
               sum(CASE WHEN next_type = event_type THEN 1 ELSE 0 END)
                   AS same_all,
               sum(CASE WHEN gap_us <= 60000000 THEN 1 ELSE 0 END)
                   AS n_fast,
               sum(CASE WHEN gap_us <= 60000000
                         AND next_type = event_type
                        THEN 1 ELSE 0 END) AS same_fast
        FROM pairs GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(same_all AS BIGINT) AS same_all,
           CAST(n_fast AS BIGINT) AS n_fast,
           CAST(same_fast AS BIGINT) AS same_fast,
           CAST((1000000 * same_fast * n_pairs)
                // greatest(n_fast * same_all, 1) AS BIGINT)
               AS excitation_lift_ppm
    FROM s
    """,
    doc="Hawkes-style self-excitation screen: given a user just emitted "
    "an event of type T, is the follow-up within 60 s MORE likely to "
    "be T again than the user's unconditional repeat rate?  "
    "excitation_lift_ppm = P(same | gap<=60s) / P(same) in parts-per-"
    "million — retry storms and double-click artifacts show up as "
    "multi-million-ppm lift on one type while organic behavior sits "
    "near 1e6.  Complements event_transition_matrix (which ignores "
    "gap) and synchronized_burst_seconds (which ignores type "
    "persistence).  One user-partitioned lead window — the stream's "
    "natural key — then a hash agg; exact integers throughout.",
    tags=("timeseries", "events"),
)
def self_excitation_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("gap_us"),
    ).filter(F.col("next_type").isNotNull())
    s = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(F.col("next_type") == F.col("event_type"), 1).otherwise(0)
        ).alias("same_all"),
        F.sum(
            F.when(F.col("gap_us") <= 60000000, 1).otherwise(0)
        ).alias("n_fast"),
        F.sum(
            F.when(
                (F.col("gap_us") <= 60000000)
                & (F.col("next_type") == F.col("event_type")),
                1,
            ).otherwise(0)
        ).alias("same_fast"),
    )
    return s.select(
        "event_type",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("same_all").cast("long").alias("same_all"),
        F.col("n_fast").cast("long").alias("n_fast"),
        F.col("same_fast").cast("long").alias("same_fast"),
        F.expr(
            "CAST((1000000 * same_fast * n_pairs)"
            " DIV greatest(n_fast * same_all, 1) AS BIGINT)"
        ).alias("excitation_lift_ppm"),
    )


# --- pairwise Bray-Curtis dissimilarity of hourly activity profiles ----------


@register(
    "bray_curtis_type_similarity",
    oracle="""
    , prof AS (
        SELECT event_type, extract(hour FROM ts) AS h, count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, sum(c) AS s FROM prof GROUP BY 1),
    shared AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               sum(least(a.c, b.c)) AS m
        FROM prof a JOIN prof b
          ON a.h = b.h AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT s.type_a, s.type_b,
           CAST(ta.s AS BIGINT) AS n_a,
           CAST(tb.s AS BIGINT) AS n_b,
           CAST(s.m AS BIGINT) AS sum_min,
           CAST((1000000 * (ta.s + tb.s - 2 * s.m))
                // (ta.s + tb.s) AS BIGINT) AS bray_curtis_ppm
    FROM shared s
    JOIN tot ta ON ta.event_type = s.type_a
    JOIN tot tb ON tb.event_type = s.type_b
    """,
    doc="Which event types share a circadian shape?  Pairwise "
    "Bray-Curtis dissimilarity between hourly (0-23) activity "
    "profiles, using the identity Σ|x−y| = Σx + Σy − 2·Σmin(x,y) so "
    "only the inner join on shared hours is needed — no 24-hour grid "
    "materialization, absent hours contribute min=0 by construction.  "
    "0 ppm = identical shape and volume, 1e6 = disjoint.  Exact "
    "integer counts end-to-end; the pair join runs over |types|×24 "
    "rows, driver-trivial after one fact-table agg.",
    tags=("timeseries", "events"),
)
def bray_curtis_type_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    prof = ev.groupBy(
        "event_type", F.hour("ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = prof.groupBy("event_type").agg(F.sum("c").alias("s"))
    a = prof.select(
        F.col("event_type").alias("type_a"),
        F.col("h"),
        F.col("c").alias("ca"),
    )
    b = prof.select(
        F.col("event_type").alias("type_b"),
        F.col("h").alias("hb"),
        F.col("c").alias("cb"),
    )
    shared = (
        a.join(
            b,
            (F.col("h") == F.col("hb"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.sum(F.least("ca", "cb")).alias("m"))
    )
    ta = tot.select(
        F.col("event_type").alias("type_a"), F.col("s").alias("n_a")
    )
    tb = tot.select(
        F.col("event_type").alias("type_b"), F.col("s").alias("n_b")
    )
    return (
        shared.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("m").cast("long").alias("sum_min"),
            F.expr(
                "CAST((1000000 * (n_a + n_b - 2 * m))"
                " DIV (n_a + n_b) AS BIGINT)"
            ).alias("bray_curtis_ppm"),
        )
    )


# --- first-passage time to cumulative purchase value --------------------------


@register(
    "first_passage_cumulative_value",
    oracle="""
    , u0 AS (
        SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
    ),
    cum AS (
        SELECT user_id, ts, event_id,
               sum(CAST(round(value * 100, 0) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS cum_cents
        FROM events WHERE event_type = 'purchase'
    ),
    hit AS (
        SELECT c.user_id,
               min(epoch_us(c.ts)) AS t_star
        FROM cum c WHERE c.cum_cents >= 10000
        GROUP BY c.user_id
    ),
    d AS (
        SELECT u.user_id,
               (h.t_star - epoch_us(u.t0)) // 86400000000 AS days
        FROM u0 u JOIN hit h USING (user_id)
    ),
    r AS (
        SELECT days, user_id,
               row_number() OVER (ORDER BY days, user_id) AS rn,
               count(*) OVER () AS n
        FROM d
    )
    SELECT CAST((SELECT count(*) FROM u0) AS BIGINT) AS n_users,
           CAST(max(n) AS BIGINT) AS n_reached,
           CAST((1000000 * max(n))
                // (SELECT count(*) FROM u0) AS BIGINT) AS reach_ppm,
           CAST(max(CASE WHEN rn = (n + 3) // 4 THEN days END)
               AS BIGINT) AS p25_days,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN days END)
               AS BIGINT) AS p50_days,
           CAST(max(CASE WHEN rn = (3 * n + 1) // 4 THEN days END)
               AS BIGINT) AS p75_days
    FROM r
    """,
    doc="First-passage time to a cumulative spend of 100.00: for each "
    "user, the running purchase total (exact cents, user-partitioned "
    "ordered window) crosses the threshold at some event — report how "
    "many users ever cross and the quartiles of days-from-first-"
    "activity to crossing, i.e. the time-to-value curve growth teams "
    "track.  Monotone running sums make min(ts | cum≥T) well-defined; "
    "ties in days break on user_id for a total order.  One "
    "user-keyed window + one global quartile rank over the reached "
    "set (users, not events).",
    tags=("timeseries", "retention"),
)
def first_passage_cumulative_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u0 = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .over(w)
        .alias("cum_cents"),
    )
    hit = (
        cum.filter(F.col("cum_cents") >= 10000)
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t_star"))
    )
    d = u0.join(hit, "user_id").select(
        "user_id",
        F.expr(
            "(t_star - unix_micros(t0)) DIV 86400000000"
        ).alias("days"),
    )
    # nearest-rank percentiles: value-grain counts + running sum and
    # value-at-rank-k by cumulative range
    vc = d.groupBy("days").agg(F.count(F.lit(1)).alias("c"))
    w_v = W.orderBy("days")
    r = vc.select(
        "days",
        "c",
        F.sum("c").over(w_v.rowsBetween(W.unboundedPreceding, 0)).alias("cr"),
        F.sum("c")
        .over(w_v.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n"),
    )

    def at_rank(k_expr: str, name: str):
        return F.max(
            F.when(
                F.expr(f"cr - c < {k_expr} AND cr >= {k_expr}"),
                F.col("days"),
            )
        ).alias(name)

    n_users = u0.agg(F.count(F.lit(1)).alias("n_users"))
    agg = r.agg(
        F.max("n").alias("n_reached"),
        at_rank("(n + 3) DIV 4", "p25_days"),
        at_rank("(n + 1) DIV 2", "p50_days"),
        at_rank("(3 * n + 1) DIV 4", "p75_days"),
    )
    return n_users.crossJoin(agg).select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_reached").cast("long").alias("n_reached"),
        F.expr(
            "CAST((1000000 * n_reached) DIV n_users AS BIGINT)"
        ).alias("reach_ppm"),
        F.col("p25_days").cast("long").alias("p25_days"),
        F.col("p50_days").cast("long").alias("p50_days"),
        F.col("p75_days").cast("long").alias("p75_days"),
    )


# --- inter-event gap spectrum (log2 buckets) -----------------------------------


@register(
    "interevent_gap_spectrum",
    oracle="""
    , g AS (
        SELECT event_type,
               (epoch_us(lead(ts) OVER w) - epoch_us(ts)) // 1000000
                   AS gap_s
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)
    ),
    b AS (
        SELECT event_type,
               length(bin(gap_s + 1)) - 1 AS log2_bucket
        FROM g WHERE gap_s IS NOT NULL
    ),
    per AS (
        SELECT event_type, log2_bucket, count(*) AS n
        FROM b GROUP BY event_type, log2_bucket
    ),
    tot AS (
        SELECT event_type, sum(n) AS tn FROM per GROUP BY event_type
    )
    SELECT p.event_type,
           CAST(p.log2_bucket AS BIGINT) AS log2_bucket,
           CAST(p.n AS BIGINT) AS n_gaps,
           CAST((1000000 * p.n) // t.tn AS BIGINT) AS share_ppm
    FROM per p JOIN tot t USING (event_type)
    """,
    doc="Inter-event gap spectrum: per event type, the histogram of "
    "same-user consecutive-event gaps in power-of-two second buckets "
    "(floor(log2(gap+1)) computed exactly via binary-string length — "
    "no libm).  The shape diagnoses the process: memoryless arrivals "
    "decay geometrically across buckets, bot/retry traffic spikes a "
    "single low bucket, diurnal behavior puts a bump at the ~2^16 s "
    "(day) bucket.  Feeds the session-gap choice "
    "(session_gap_sensitivity) with the actual gap distribution.  "
    "One (user,type)-keyed lead window, one hash agg.",
    tags=("timeseries", "events"),
)
def interevent_gap_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(lead(ts) OVER (PARTITION BY user_id, event_type"
            " ORDER BY ts, event_id)) - unix_micros(ts)) DIV 1000000"
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    b = g.select(
        "event_type",
        (F.length(F.bin(F.col("gap_s") + 1)) - 1).alias("log2_bucket"),
    )
    per = b.groupBy("event_type", "log2_bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = per.groupBy("event_type").agg(F.sum("n").alias("tn"))
    return per.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.col("log2_bucket").cast("long").alias("log2_bucket"),
        F.col("n").cast("long").alias("n_gaps"),
        F.expr("CAST((1000000 * n) DIV tn AS BIGINT)").alias(
            "share_ppm"
        ),
    )


# --- Fano factor (overdispersion) of hourly arrivals per type -------------------


@register(
    "fano_factor_by_type",
    oracle="""
    , hc AS (
        SELECT event_type,
               epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT event_type,
               max(h) - min(h) + 1 AS n_hours,
               sum(c) AS s,
               sum(c * c) AS ss,
               count(*) AS n_nonzero
        FROM hc GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_hours AS BIGINT) AS n_hours,
           CAST(s AS BIGINT) AS n_events,
           CAST(n_nonzero AS BIGINT) AS n_active_hours,
           CAST((10000 * (n_hours * ss - s * s))
                // (n_hours * s) AS BIGINT) AS fano_e4
    FROM span
    """,
    doc="Arrival overdispersion per event type: the Fano factor "
    "(variance/mean of hourly counts) over the type's full hour span "
    "— empty hours included via the span identity (zeros contribute "
    "nothing to Σc or Σc², only to n_hours), so no calendar grid is "
    "materialized.  Fano ≈ 1e4 is Poisson; well above means bursty "
    "arrivals (retry storms, batch jobs) where capacity must be "
    "provisioned for peaks, not means — the statistic behind "
    "peak_load_5min's raw numbers.  Exact integers: fano_e4 = "
    "10⁴(nΣc²−S²) DIV (n·S).  One hour-grain agg, one tiny agg.",
    tags=("timeseries", "events", "stats"),
)
def fano_factor_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(date_trunc('hour', ts)) DIV 3600000000"
        ).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    span = hc.groupBy("event_type").agg(
        (F.max("h") - F.min("h") + 1).alias("n_hours"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.count(F.lit(1)).alias("n_nonzero"),
    )
    return span.select(
        "event_type",
        F.col("n_hours").cast("long").alias("n_hours"),
        F.col("s").cast("long").alias("n_events"),
        F.col("n_nonzero").cast("long").alias("n_active_hours"),
        F.expr(
            "CAST((10000 * (n_hours * ss - s * s))"
            " DIV (n_hours * s) AS BIGINT)"
        ).alias("fano_e4"),
    )


# --- error run-length histogram ------------------------------------------------


@register(
    "error_run_length_histogram",
    oracle="""
    , seq AS (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn_all,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn_type
        FROM events
    ),
    runs AS (
        SELECT user_id, rn_all - rn_type AS grp, count(*) AS run_len
        FROM seq WHERE event_type = 'error'
        GROUP BY user_id, rn_all - rn_type
    ),
    tot AS (SELECT count(*) AS n_runs, sum(run_len) AS n_err FROM runs)
    SELECT r.run_len,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST((1000000 * count(*)) // max(t.n_runs) AS BIGINT)
               AS run_share_ppm,
           CAST((1000000 * r.run_len * count(*)) // max(t.n_err)
               AS BIGINT) AS error_share_ppm
    FROM runs r CROSS JOIN tot t
    GROUP BY r.run_len
    """,
    doc="Error streaks, not error counts: the islands-and-gaps run "
    "decomposition (rn_all − rn_type is constant within a "
    "consecutive-error island per user) histogrammed by run length — "
    "many singleton runs mean transient blips users recover from; "
    "mass in long runs means users get STUCK in error loops, the "
    "retention killer error_recovery_percentiles times but doesn't "
    "count.  Two user-keyed rank windows (same shuffle), one agg; "
    "exact integers.",
    tags=("timeseries", "events", "reliability"),
)
def error_run_length_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wa = W.partitionBy("user_id").orderBy("ts", "event_id")
    wt = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wa).alias("rn_all"),
        F.row_number().over(wt).alias("rn_type"),
    )
    runs = (
        seq.filter(F.col("event_type") == "error")
        .groupBy(
            "user_id", (F.col("rn_all") - F.col("rn_type")).alias("grp")
        )
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    tot = runs.agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("run_len").alias("n_err"),
    )
    return (
        runs.crossJoin(F.broadcast(tot))
        .groupBy("run_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.expr(
                "CAST((1000000 * count(*)) DIV max(n_runs) AS BIGINT)"
            ).alias("run_share_ppm"),
            F.expr(
                "CAST((1000000 * run_len * count(*)) DIV max(n_err)"
                " AS BIGINT)"
            ).alias("error_share_ppm"),
        )
        .select(
            F.col("run_len").cast("long").alias("run_len"),
            "n_runs",
            "run_share_ppm",
            "error_share_ppm",
        )
    )


# --- seasonal-naive WAPE by forecast horizon -------------------------------------


@register(
    "forecast_wape_by_horizon",
    oracle="""
    , daily AS (
        SELECT epoch_us(date_trunc('day', l_shipdate))
                   // 86400000000 AS d,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100,
                              0) AS BIGINT)) AS rev
        FROM lineitem GROUP BY 1
    ),
    h AS (SELECT unnest([1, 7, 28]) AS horizon),
    j AS (
        SELECT h.horizon, a.rev AS actual, p.rev AS predicted
        FROM daily a
        CROSS JOIN h
        JOIN daily p ON p.d = a.d - h.horizon
    )
    SELECT horizon,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST((1000000 * sum(abs(actual - predicted)))
                // sum(actual) AS BIGINT) AS wape_ppm,
           CAST(sum(CASE WHEN predicted > actual THEN 1 ELSE 0 END)
               AS BIGINT) AS n_over
    FROM j GROUP BY horizon
    """,
    doc="Naive-forecast error vs horizon: predict each day's revenue "
    "with the value h days earlier (h = 1, 7, 28) and score WAPE = "
    "Σ|err|/Σactual — the baseline error curve any real forecaster "
    "must beat (forecast_mase_comparison normalizes BY this; here it "
    "IS the deliverable, per horizon).  h=7 beating h=1 confirms "
    "weekly seasonality dominates day-to-day memory.  Lag via "
    "equi-join on the integer day index — no window, no calendar "
    "grid; days missing an h-back observation drop out identically "
    "on both engines.  Exact cents.",
    tags=("timeseries", "forecast"),
)
def forecast_wape_by_horizon(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    daily = li.groupBy(
        F.expr(
            "unix_micros(date_trunc('day', l_shipdate))"
            " DIV 86400000000"
        ).alias("d")
    ).agg(F.sum(cents).alias("rev"))
    h = spark.createDataFrame([(1,), (7,), (28,)], "horizon INT")
    p = daily.select(
        F.col("d").alias("pd"), F.col("rev").alias("predicted")
    )
    j = (
        daily.crossJoin(F.broadcast(h))
        .join(p, F.expr("pd = d - horizon"))
        .select("horizon", F.col("rev").alias("actual"), "predicted")
    )
    return j.groupBy("horizon").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr(
            "CAST((1000000 * sum(abs(actual - predicted)))"
            " DIV sum(actual) AS BIGINT)"
        ).alias("wape_ppm"),
        F.sum(
            F.when(F.col("predicted") > F.col("actual"), 1).otherwise(0)
        ).cast("long").alias("n_over"),
    )


# --- watermark delay sweep -------------------------------------------------------


@register(
    "watermark_delay_sweep",
    oracle="""
    , arr AS (
        SELECT epoch_us(ts) AS t_us,
               max(epoch_us(ts)) OVER (ORDER BY event_id
                                       ROWS UNBOUNDED PRECEDING)
                   AS hw_us
        FROM events
    ),
    lateness AS (
        SELECT (hw_us - t_us) // 1000000 AS late_s FROM arr
    ),
    sweep AS (SELECT unnest([0, 60, 300, 3600]) AS delay_s),
    tot AS (SELECT count(*) AS n FROM lateness)
    SELECT s.delay_s,
           CAST(sum(CASE WHEN l.late_s > s.delay_s
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST((1000000 * sum(CASE WHEN l.late_s > s.delay_s
                                    THEN 1 ELSE 0 END))
                // max(t.n) AS BIGINT) AS drop_ppm
    FROM lateness l CROSS JOIN sweep s CROSS JOIN tot t
    GROUP BY s.delay_s
    """,
    doc="Watermark tuning as a measurement, not a guess: replaying the "
    "log in arrival order (event_id — the late_arrival_depth "
    "convention), an event is dropped by a watermark of delay D if "
    "its event time lags the high-water mark by more than D.  The "
    "sweep over 0/60/300/3600 s delays yields the drop-rate curve "
    "that picks withWatermark()'s argument for the streaming "
    "windowed aggregations (events_tumbling/sliding_window): the "
    "smallest D under the pipeline's loss budget.  The running max "
    "is one ordered window; exact integer seconds.",
    tags=("timeseries", "streaming"),
)
def watermark_delay_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # running max of the event-time high watermark in arrival order
    arr = ev.select(
        F.unix_micros("ts").alias("t_us"),
        F.max(F.unix_micros("ts"))
        .over(W.orderBy("event_id").rowsBetween(W.unboundedPreceding, 0))
        .alias("hw_us"),
    )
    lateness = arr.select(
        F.expr("(hw_us - t_us) DIV 1000000").alias("late_s")
    )
    sweep = spark.createDataFrame(
        [(0,), (60,), (300,), (3600,)], "delay_s INT"
    )
    tot = lateness.agg(F.count(F.lit(1)).alias("n"))
    return (
        lateness.crossJoin(F.broadcast(sweep))
        .crossJoin(F.broadcast(tot))
        .groupBy("delay_s")
        .agg(
            F.sum(
                F.when(F.col("late_s") > F.col("delay_s"), 1).otherwise(0)
            ).cast("long").alias("n_dropped"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN late_s > delay_s"
                " THEN 1 ELSE 0 END)) DIV max(n) AS BIGINT)"
            ).alias("drop_ppm"),
        )
    )


# --- instrumentation duplicate events ---------------------------------------------------


@register(
    "instrumentation_dup_events",
    oracle="""
    , g AS (
        SELECT user_id, event_type,
               epoch_us(ts) // 1000000 AS sec,
               count(*) AS k
        FROM events
        GROUP BY user_id, event_type, epoch_us(ts) // 1000000
    ),
    tot AS (SELECT sum(k) AS n FROM g)
    SELECT g.k AS multiplicity,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(g.k * count(*) AS BIGINT) AS n_events,
           CAST((1000000 * (g.k - 1) * count(*)) // max(t.n)
               AS BIGINT) AS excess_share_ppm
    FROM g CROSS JOIN tot t
    GROUP BY g.k
    """,
    doc="Double-fire detection in the event instrumentation: "
    "multiplicity histogram of (user, type, second) groups — "
    "multiplicity ≥ 2 is the double-click/retry/SDK-replay "
    "signature, and excess_share_ppm is exactly the over-counting "
    "every downstream count-based metric carries if events aren't "
    "deduplicated at ingest (the at-most-once QoS-0 reference "
    "semantics make real dupes upstream unlikely, so these are "
    "producer-side).  One second-grain agg; exact integers.",
    tags=("timeseries", "dq"),
)
def instrumentation_dup_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts) DIV 1000000").alias("sec"),
    ).agg(F.count(F.lit(1)).alias("k"))
    tot = g.agg(F.sum("k").alias("n"))
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            (F.col("k") * F.count(F.lit(1)))
            .cast("long")
            .alias("n_events"),
            F.expr(
                "CAST((1000000 * (k - 1) * count(*)) DIV max(n)"
                " AS BIGINT)"
            ).alias("excess_share_ppm"),
        )
        .select(
            F.col("k").cast("long").alias("multiplicity"),
            "n_groups",
            "n_events",
            "excess_share_ppm",
        )
    )


# --- weekend vs weekday rate lift per event type ---------------------------------------


@register(
    "weekend_lift_by_type",
    oracle="""
    , d AS (
        SELECT event_type,
               CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS is_we,
               count(*) AS c,
               count(DISTINCT CAST(date_trunc('day', ts) AS DATE))
                   AS n_days
        FROM events
        GROUP BY event_type, CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END
    ),
    p AS (
        SELECT event_type,
               max(CASE WHEN is_we = 1 THEN c END) AS we_c,
               max(CASE WHEN is_we = 1 THEN n_days END) AS we_d,
               max(CASE WHEN is_we = 0 THEN c END) AS wd_c,
               max(CASE WHEN is_we = 0 THEN n_days END) AS wd_d
        FROM d GROUP BY event_type
    )
    SELECT event_type,
           CAST(we_c AS BIGINT) AS weekend_events,
           CAST(wd_c AS BIGINT) AS weekday_events,
           CAST((1000000 * we_c * wd_d) // (we_d * wd_c) AS BIGINT)
               AS weekend_lift_ppm
    FROM p
    """,
    doc="Weekend behavior shift per event type: the ratio of "
    "per-active-day weekend rate to weekday rate (normalizing by "
    "distinct active days on each side, so a 2-vs-5-day week doesn't "
    "masquerade as a lift) — purchases sagging on weekends while "
    "errors hold steady changes on-call staffing and campaign "
    "timing differently than a uniform dip (dow_hour_profile's "
    "shape, reduced to one decision number per type).  ISO weekday "
    "on both engines; exact integer rate ratio.",
    tags=("timeseries", "events"),
)
def weekend_lift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.when(F.expr("weekday(ts) + 1") >= 6, 1).otherwise(0).alias(
            "is_we"
        ),
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.countDistinct(F.to_date(F.date_trunc("day", "ts"))).alias(
            "n_days"
        ),
    )
    p = d.groupBy("event_type").agg(
        F.max(F.when(F.col("is_we") == 1, F.col("c"))).alias("we_c"),
        F.max(F.when(F.col("is_we") == 1, F.col("n_days"))).alias(
            "we_d"
        ),
        F.max(F.when(F.col("is_we") == 0, F.col("c"))).alias("wd_c"),
        F.max(F.when(F.col("is_we") == 0, F.col("n_days"))).alias(
            "wd_d"
        ),
    )
    return p.select(
        "event_type",
        F.col("we_c").cast("long").alias("weekend_events"),
        F.col("wd_c").cast("long").alias("weekday_events"),
        F.expr(
            "CAST((1000000 * we_c * wd_d) DIV (we_d * wd_c) AS BIGINT)"
        ).alias("weekend_lift_ppm"),
    )


# --- share of weekly activity from new users -------------------------------------------------


@register(
    "new_user_activity_share_weekly",
    oracle="""
    , u0 AS (
        SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
        GROUP BY user_id
    ),
    lab AS (
        SELECT epoch_us(e.ts) // 604800000000 AS wk,
               CASE WHEN epoch_us(e.ts) - u.t0 < 604800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events e JOIN u0 u USING (user_id)
    )
    SELECT wk,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(is_new) AS BIGINT) AS n_new_user_events,
           CAST((1000000 * sum(is_new)) // count(*) AS BIGINT)
               AS new_share_ppm
    FROM lab GROUP BY wk
    """,
    doc="Acquisition dependence, weekly: the share of each week's "
    "events produced by users within their first 7 days — a product "
    "whose activity is mostly new-user activity is buying traffic, "
    "not retaining it (the flow complement to "
    "cumulative_new_users' stock and growth_accounting_weekly's "
    "state machine).  First-seen per user via one agg, broadcast "
    "back; exact integer week/age arithmetic.",
    tags=("timeseries", "retention"),
)
def new_user_activity_share_weekly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u0 = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("t0")
    )
    lab = ev.join(F.broadcast(u0), "user_id").select(
        F.expr("unix_micros(ts) DIV 604800000000").alias("wk"),
        F.when(
            F.unix_micros("ts") - F.col("t0") < 604800000000, 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    return lab.groupBy("wk").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("is_new").cast("long").alias("n_new_user_events"),
        F.expr(
            "CAST((1000000 * sum(is_new)) DIV count(*) AS BIGINT)"
        ).alias("new_share_ppm"),
    )


# --- event value percentiles per type -----------------------------------------------------------


@register(
    "value_percentiles_by_type",
    oracle="""
    , v AS (
        SELECT event_type,
               CAST(round(value * 100, 0) AS BIGINT) AS cents,
               event_id
        FROM events
    ),
    r AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM v
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN cents END)
                AS BIGINT) AS p50_cents,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END)
                AS BIGINT) AS p90_cents,
           CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p99_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM r GROUP BY event_type
    """,
    doc="Value distribution per event type: exact nearest-rank "
    "P50/P90/P99 of the value column in cents with the type's total "
    "— the skeleton of any 'value at risk by stream' panel, and the "
    "exact counterpart the quantile-sketch queries "
    "(quantile_bins_estimate, median_of_medians_error) are measured "
    "against.  Type-partitioned rank window with (cents, event_id) "
    "total order; exact integers until the final display division.",
    tags=("timeseries", "events"),
)
def value_percentiles_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        "event_id",
    )
    wr = W.partitionBy("event_type").orderBy("cents", "event_id")
    wn = W.partitionBy("event_type")
    r = v.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.max(
            F.when(F.expr("rn = (n + 1) DIV 2"), F.col("cents"))
        ).alias("p50_cents"),
        F.max(
            F.when(F.expr("rn = (9 * n + 9) DIV 10"), F.col("cents"))
        ).alias("p90_cents"),
        F.max(
            F.when(F.expr("rn = (99 * n + 99) DIV 100"), F.col("cents"))
        ).alias("p99_cents"),
        F.sum("cents").alias("total_cents"),
    )


# --- event value by hour band --------------------------------------------------------------------


@register(
    "value_by_hour_band",
    oracle="""
    , b AS (
        SELECT CASE WHEN extract(hour FROM ts) < 6 THEN 'night'
                    WHEN extract(hour FROM ts) < 12 THEN 'morning'
                    WHEN extract(hour FROM ts) < 18 THEN 'afternoon'
                    ELSE 'evening' END AS band,
               CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    tot AS (SELECT count(*) AS n, sum(cents) AS s FROM b)
    SELECT b.band,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST((100 * sum(b.cents)) // count(*) AS BIGINT)
               AS mean_value_e2,
           CAST((1000000 * count(*)) // max(t.n) AS BIGINT)
               AS volume_share_ppm,
           CAST((1000000 * sum(b.cents)) // max(t.s) AS BIGINT)
               AS value_share_ppm
    FROM b CROSS JOIN tot t
    GROUP BY b.band
    """,
    doc="Do off-hours events carry different value?  Mean event value "
    "and volume/value shares across four six-hour bands — a night "
    "band whose value share exceeds its volume share is "
    "high-stakes automated traffic (batch jobs, scripted "
    "purchases) that diurnal volume charts (diurnal_dft_power) "
    "render invisible.  One scan, 4-group agg, exact integers.",
    tags=("timeseries", "events"),
)
def value_by_hour_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.when(F.hour("ts") < 6, "night")
        .when(F.hour("ts") < 12, "morning")
        .when(F.hour("ts") < 18, "afternoon")
        .otherwise("evening")
        .alias("band"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    tot = b.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.expr(
                "CAST((100 * sum(cents)) DIV count(*) AS BIGINT)"
            ).alias("mean_value_e2"),
            F.expr(
                "CAST((1000000 * count(*)) DIV max(n) AS BIGINT)"
            ).alias("volume_share_ppm"),
            F.expr(
                "CAST((1000000 * sum(cents)) DIV max(s) AS BIGINT)"
            ).alias("value_share_ppm"),
        )
    )


_SESSION_GAP_MIN = 30  # the events_sessionize convention


# --- where in the session do purchases land? -------------------------------------------------------


@register(
    "purchase_position_in_session",
    oracle=f"""
    , flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - lag(ts) OVER w
                         <= INTERVAL {_SESSION_GAP_MIN} MINUTE
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_type, ts, event_id,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    pos AS (
        SELECT event_type,
               row_number() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id, sid) AS k
        FROM sess
    ),
    p AS (
        SELECT ((rn - 1) * 4) // k + 1 AS quartile
        FROM pos WHERE event_type = 'purchase' AND k >= 2
    ),
    tot AS (SELECT count(*) AS n FROM p)
    SELECT p.quartile,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST((1000000 * count(*)) // max(t.n) AS BIGINT)
               AS share_ppm
    FROM p CROSS JOIN tot t
    GROUP BY p.quartile
    """,
    doc="Session phase of purchasing: each purchase event's quartile "
    "position within its session (multi-event sessions) — front-"
    "loaded purchases mean users arrive intending to buy (search-"
    "driven, optimize landing), back-loaded means browsing converts "
    "(optimize discovery depth); flat means position carries no "
    "signal and session_depth_conversion's depth effect is pure "
    "selection.  One session window + one position window on the "
    "same shuffle; exact integer quartiles.",
    tags=("timeseries", "sessions"),
)
def purchase_position_in_session(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            <= _SESSION_GAP_MIN * 60 * 1000000,
            0,
        )
        .otherwise(1)
        .alias("new_session"),
    )
    sess = flagged.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("sid"),
    )
    wp = W.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    wk = W.partitionBy("user_id", "sid")
    pos = sess.select(
        "event_type",
        F.row_number().over(wp).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    p = pos.filter(
        (F.col("event_type") == "purchase") & (F.col("k") >= 2)
    ).select(F.expr("((rn - 1) * 4) DIV k + 1").alias("quartile"))
    tot = p.agg(F.count(F.lit(1)).alias("n"))
    return (
        p.crossJoin(F.broadcast(tot))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.expr(
                "CAST((1000000 * count(*)) DIV max(n) AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


# --- user engagement breadth (effective event types) ---------------------------------------------


@register(
    "user_engagement_breadth_histogram",
    oracle="""
    , ut AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY user_id, event_type
    ),
    per AS (
        SELECT user_id,
               sum(n) AS total,
               sum(n * (n - 1)) AS coll,
               count(*) AS n_types
        FROM ut GROUP BY user_id
        HAVING sum(n) >= 2
    ),
    b AS (
        SELECT ((10000 * total * (total - 1))
                // greatest(coll, 1)) // 10000 AS eff_band,
               n_types
        FROM per
    ),
    tot AS (SELECT count(*) AS n FROM b)
    SELECT CAST(b.eff_band AS BIGINT) AS eff_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST((10000 * sum(b.n_types)) // count(*) AS BIGINT)
               AS mean_raw_types_e4,
           CAST((1000000 * count(*)) // max(t.n) AS BIGINT)
               AS share_ppm
    FROM b CROSS JOIN tot t
    GROUP BY b.eff_band
    """,
    doc="Engagement breadth: the inverse-Simpson effective number of "
    "event types per user (≥2 events), floored to integer bands — a "
    "user logging 5 types but effectively 1.2 is a single-behavior "
    "user however long their type list; the histogram shows whether "
    "the product has one core loop or several "
    "(user_event_gini measures concentration of volume; this counts "
    "effective behaviors).  Exact collision arithmetic per user, "
    "two aggs.",
    tags=("timeseries", "behavior"),
)
def user_engagement_breadth_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    per = (
        ut.groupBy("user_id")
        .agg(
            F.sum("n").alias("total"),
            F.sum(F.col("n") * (F.col("n") - 1)).alias("coll"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .filter(F.col("total") >= 2)
    )
    b = per.select(
        F.expr(
            "((10000 * total * (total - 1))"
            " DIV greatest(coll, 1)) DIV 10000"
        ).alias("eff_band"),
        "n_types",
    )
    tot = b.agg(F.count(F.lit(1)).alias("n"))
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("eff_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.expr(
                "CAST((10000 * sum(n_types)) DIV count(*) AS BIGINT)"
            ).alias("mean_raw_types_e4"),
            F.expr(
                "CAST((1000000 * count(*)) DIV max(n) AS BIGINT)"
            ).alias("share_ppm"),
        )
        .select(
            F.col("eff_band").cast("long").alias("eff_band"),
            "n_users",
            "mean_raw_types_e4",
            "share_ppm",
        )
    )


# --- Mann-Kendall trend of the weekly error share --------------------------------------------------


@register(
    "error_share_trend_mk",
    oracle="""
    , wk AS (
        SELECT epoch_us(ts) // 604800000000 AS w,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS e,
               count(*) AS n
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN CAST(b.e AS HUGEINT) * a.n
                         > CAST(a.e AS HUGEINT) * b.n THEN 1
                    WHEN CAST(b.e AS HUGEINT) * a.n
                         < CAST(a.e AS HUGEINT) * b.n THEN -1
                    ELSE 0 END AS sgn
        FROM wk a JOIN wk b ON b.w > a.w
    ),
    s AS (
        SELECT sum(sgn) AS mk_s, count(*) AS n_pairs,
               (SELECT count(*) FROM wk) AS n_weeks
        FROM pairs
    )
    SELECT CAST(n_weeks AS BIGINT) AS n_weeks,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(mk_s AS BIGINT) AS mk_s,
           CAST(floor(
               CAST(mk_s AS DOUBLE)
               / sqrt(CAST(n_weeks AS DOUBLE)
                      * CAST(n_weeks - 1 AS DOUBLE)
                      * CAST(2 * n_weeks + 5 AS DOUBLE) / 18.0)
               * 1000000) AS BIGINT) AS mk_z_e6
    FROM s
    """,
    doc="Is reliability actually improving?  Mann-Kendall trend test "
    "on the weekly error SHARE (not count — volume growth would "
    "fake an error trend): S = Σ sign(share_j − share_i) over all "
    "week pairs, with every share comparison done by exact integer "
    "cross-multiplication so a 1-event difference is ranked "
    "correctly.  The nonparametric complement to the per-entity "
    "trend censuses (supplier_latency_trend_census uses the same "
    "pair-sign idea per supplier; this is the global SRE number "
    "with its normal-approximation z).  The O(weeks²) pair join is "
    "over ~100 week aggregates.",
    tags=("timeseries", "reliability", "stats"),
)
def error_share_trend_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        F.expr("unix_micros(ts) DIV 604800000000").alias("w")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("e"),
        F.count(F.lit(1)).alias("n"),
    )
    a = wk.select(
        F.col("w").alias("wa"), F.col("e").alias("ea"),
        F.col("n").alias("na"),
    )
    b = wk.select(
        F.col("w").alias("wb"), F.col("e").alias("eb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(b, F.col("wb") > F.col("wa")).select(
        F.expr(
            "CASE WHEN CAST(eb AS DECIMAL(38,0)) * na"
            " > CAST(ea AS DECIMAL(38,0)) * nb THEN 1"
            " WHEN CAST(eb AS DECIMAL(38,0)) * na"
            " < CAST(ea AS DECIMAL(38,0)) * nb THEN -1"
            " ELSE 0 END"
        ).alias("sgn")
    )
    nw = wk.agg(F.count(F.lit(1)).alias("n_weeks"))
    s = pairs.agg(
        F.sum("sgn").alias("mk_s"), F.count(F.lit(1)).alias("n_pairs")
    )
    return s.crossJoin(F.broadcast(nw)).select(
        F.col("n_weeks").cast("long").alias("n_weeks"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("mk_s").cast("long").alias("mk_s"),
        F.expr(
            "CAST(floor(CAST(mk_s AS DOUBLE)"
            " / sqrt(CAST(n_weeks AS DOUBLE)"
            "        * CAST(n_weeks - 1 AS DOUBLE)"
            "        * CAST(2 * n_weeks + 5 AS DOUBLE) / 18.0)"
            " * 1000000) AS BIGINT)"
        ).alias("mk_z_e6"),
    )


# --- DAU distribution profile ----------------------------------------------------------------------


@register(
    "daily_active_users_profile",
    oracle="""
    , dau AS (
        SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
               count(DISTINCT user_id) AS u
        FROM events GROUP BY 1
    ),
    r AS (
        SELECT u, d,
               row_number() OVER (ORDER BY u, d) AS rn,
               count(*) OVER () AS n
        FROM dau
    )
    SELECT CAST(max(n) AS BIGINT) AS n_days,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN u END) AS BIGINT)
               AS p50_dau,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN u END)
               AS BIGINT) AS p90_dau,
           CAST(max(u) AS BIGINT) AS max_dau,
           CAST((10000 * sum(u)) // max(n) AS BIGINT) AS mean_dau_e4
    FROM r
    """,
    doc="What does a normal day look like?  The DAU distribution over "
    "the observed span — exact nearest-rank P50/P90, the max (the "
    "provisioning day), and the fixed-point mean; the P90/P50 gap "
    "is the volatility number that decides whether capacity follows "
    "the mean or the tail (dau_wau_stickiness tracks the ratio "
    "to WAU; this profiles DAU itself).  One day-grain distinct "
    "count, one rank over ~2.5k day rows.",
    tags=("timeseries", "capacity"),
)
def daily_active_users_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dau = ev.groupBy(
        F.expr(
            "unix_micros(date_trunc('day', ts)) DIV 86400000000"
        ).alias("d")
    ).agg(F.countDistinct("user_id").alias("u"))
    # value-grain counts + running sum, as in the user-grain
    # percentile queries; the day count and DAU sum are full-frame
    # sums over the same order
    vc = dau.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
    w_v = W.orderBy("u")
    w_all = w_v.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    r = vc.select(
        "u",
        "c",
        F.sum("c").over(w_v.rowsBetween(W.unboundedPreceding, 0)).alias("cr"),
        F.sum("c").over(w_all).alias("n"),
        F.sum(F.col("u") * F.col("c")).over(w_all).alias("su"),
    )
    return r.agg(
        F.max("n").cast("long").alias("n_days"),
        F.max(
            F.when(
                F.expr("cr - c < (n + 1) DIV 2 AND cr >= (n + 1) DIV 2"),
                F.col("u"),
            )
        ).cast("long").alias("p50_dau"),
        F.max(
            F.when(
                F.expr(
                    "cr - c < (9 * n + 9) DIV 10"
                    " AND cr >= (9 * n + 9) DIV 10"
                ),
                F.col("u"),
            )
        ).cast("long").alias("p90_dau"),
        F.max("u").cast("long").alias("max_dau"),
        F.expr(
            "CAST((10000 * max(su)) DIV max(n) AS BIGINT)"
        ).alias("mean_dau_e4"),
    )


# --- user value concentration ------------------------------------------------------------------------


@register(
    "user_value_concentration",
    oracle="""
    , uv AS (
        SELECT user_id,
               sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
        FROM events GROUP BY user_id
    ),
    r AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, user_id) AS rn,
               count(*) OVER () AS n,
               sum(cents) OVER () AS tot
        FROM uv
    )
    SELECT CAST(max(n) AS BIGINT) AS n_users,
           CAST((1000000 * sum(CASE WHEN rn <= (n + 99) // 100
                                    THEN cents ELSE 0 END))
                // max(tot) AS BIGINT) AS top1pct_share_ppm,
           CAST((1000000 * sum(CASE WHEN rn <= (n + 9) // 10
                                    THEN cents ELSE 0 END))
                // max(tot) AS BIGINT) AS top10pct_share_ppm,
           CAST((1000000 * sum(CASE WHEN rn <= (n + 1) // 2
                                    THEN cents ELSE 0 END))
                // max(tot) AS BIGINT) AS top50pct_share_ppm
    FROM r
    """,
    doc="Whale concentration on the event stream: the share of total "
    "event value held by the top 1 % / 10 % / 50 % of users (ranked "
    "by their value total, total-order tie-break on user_id, "
    "ceil-sized percentile cohorts) — the user-grain Pareto cut "
    "that revenue_pareto_deciles does for line items; a "
    "top-1 % share in the tens of percent makes every mean-based "
    "user metric a whale artifact.  One user agg, one global rank "
    "over users, exact integers.",
    tags=("timeseries", "behavior"),
)
def user_value_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uv = ev.groupBy("user_id").agg(
        F.sum(
            F.round(F.col("value") * 100, 0).cast("long")
        ).alias("cents")
    )
    # top-k cohort sums: fold to value grain (count per distinct
    # cents), DESC running sum, then each value contributes
    # clamp(k - (cr - c), 0, c) of its rows to the top-k cohort — exact
    # for any user_id tie order because tied rows share the cents value
    vc = uv.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    w_v = W.orderBy(F.col("cents").desc())
    w_all = w_v.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    r = vc.select(
        "cents",
        "c",
        F.sum("c").over(w_v.rowsBetween(W.unboundedPreceding, 0)).alias("cr"),
        F.sum("c").over(w_all).alias("n"),
        F.sum(F.col("cents") * F.col("c")).over(w_all).alias("tot"),
    )

    def share(k_expr: str, name: str):
        return F.expr(
            "CAST((1000000 * sum(cents * greatest(0, least(c, "
            f"{k_expr} - (cr - c))))) DIV max(tot) AS BIGINT)"
        ).alias(name)

    return r.agg(
        F.max("n").cast("long").alias("n_users"),
        share("(n + 99) DIV 100", "top1pct_share_ppm"),
        share("(n + 9) DIV 10", "top10pct_share_ppm"),
        share("(n + 1) DIV 2", "top50pct_share_ppm"),
    )


# --- single-event users profile ----------------------------------------------------------------------


@register(
    "single_event_users_profile",
    oracle="""
    , ut AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events GROUP BY user_id, event_type
    ),
    per AS (
        SELECT user_id, sum(c) AS n,
               max(CASE WHEN rk = 1 THEN event_type END) AS modal_type
        FROM (
            SELECT user_id, event_type, c,
                   sum(c) OVER (PARTITION BY user_id) AS nn,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY c DESC, event_type) AS rk
            FROM ut
        ) GROUP BY user_id
    ),
    mn AS (
        SELECT min(n) AS min_n, count(*) AS n_users FROM per
    )
    SELECT p.modal_type AS event_type,
           CAST(count(*) AS BIGINT) AS n_lightest_users,
           CAST(max(m.min_n) AS BIGINT) AS min_events,
           CAST((1000000 * count(*)) // max(m.n_users)
               AS BIGINT) AS share_of_users_ppm
    FROM per p CROSS JOIN mn m
    WHERE p.n = m.min_n
    GROUP BY p.modal_type
    """,
    doc="Lightest-touch users: the users at the global minimum event "
    "count, profiled by their modal event type — a 'signup' mode is "
    "an onboarding drop, an 'error' mode is failure at first touch, "
    "a 'view' mode is bounce traffic; three different fixes behind "
    "one churn number (user_activation_latency measures those who "
    "made it past this point).  The threshold is the OBSERVED "
    "minimum, not a literal n=1, so the query stays non-degenerate "
    "on any corpus (an absolute cutoff returns nothing when every "
    "user clears it — witnessed on the fixture).  Modal type via a "
    "user-partitioned rank with total-order tie-break; the scalar "
    "minimum broadcasts.",
    tags=("timeseries", "retention"),
)
def single_event_users_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    wn = W.partitionBy("user_id")
    wr = W.partitionBy("user_id").orderBy(F.desc("c"), "event_type")
    per = (
        ut.select(
            "user_id",
            "event_type",
            F.sum("c").over(wn).alias("nn"),
            F.row_number().over(wr).alias("rk"),
        )
        .groupBy("user_id")
        .agg(
            F.max("nn").alias("n"),
            F.max(
                F.when(F.col("rk") == 1, F.col("event_type"))
            ).alias("modal_type"),
        )
    )
    mn = per.agg(
        F.min("n").alias("min_n"), F.count(F.lit(1)).alias("n_users")
    )
    return (
        per.crossJoin(F.broadcast(mn))
        .filter(F.col("n") == F.col("min_n"))
        .groupBy(F.col("modal_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lightest_users"),
            F.max("min_n").cast("long").alias("min_events"),
            F.expr(
                "CAST((1000000 * count(*)) DIV max(n_users)"
                " AS BIGINT)"
            ).alias("share_of_users_ppm"),
        )
    )


# --- engagement intensity by tenure band --------------------------------------------------------------


@register(
    "intensity_by_tenure_band",
    oracle="""
    , per AS (
        SELECT user_id,
               (max(epoch_us(ts)) - min(epoch_us(ts)))
                   // 86400000000 AS tenure_d,
               count(DISTINCT epoch_us(ts) // 86400000000)
                   AS active_days,
               count(*) AS n_events,
               sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
        FROM events GROUP BY user_id
    ),
    b AS (
        SELECT CASE WHEN tenure_d < 30 THEN 0
                    WHEN tenure_d < 90 THEN 1
                    WHEN tenure_d < 365 THEN 2
                    ELSE 3 END AS tenure_band,
               active_days, n_events, cents, tenure_d
        FROM per
    )
    SELECT tenure_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST((10000 * sum(n_events)) // sum(active_days)
               AS BIGINT) AS events_per_active_day_e4,
           CAST((100 * sum(cents)) // sum(active_days) AS BIGINT)
               AS value_per_active_day_e2,
           CAST((10000 * sum(active_days))
                // sum(greatest(tenure_d, 0) + 1) AS BIGINT)
               AS active_day_density_e4
    FROM b GROUP BY tenure_band
    """,
    doc="Does engagement deepen with tenure?  Per tenure band "
    "(first-to-last-event span: <30 d, <90 d, <365 d, 1 y+): events "
    "and value per ACTIVE day plus the active-day density "
    "(active/calendar days) — separating 'veterans do more per "
    "sitting' from 'veterans just show up more often', which "
    "cohort_ltv_curves blends.  One user-grain agg with a distinct "
    "day count; exact integers.",
    tags=("timeseries", "retention"),
)
def intensity_by_tenure_band(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.expr(
            "(max(unix_micros(ts)) - min(unix_micros(ts)))"
            " DIV 86400000000"
        ).alias("tenure_d"),
        F.countDistinct(
            F.expr("unix_micros(ts) DIV 86400000000")
        ).alias("active_days"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.round(F.col("value") * 100, 0).cast("long")
        ).alias("cents"),
    )
    b = per.select(
        F.when(F.col("tenure_d") < 30, 0)
        .when(F.col("tenure_d") < 90, 1)
        .when(F.col("tenure_d") < 365, 2)
        .otherwise(3)
        .alias("tenure_band"),
        "active_days",
        "n_events",
        "cents",
        "tenure_d",
    )
    return b.groupBy("tenure_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.expr(
            "CAST((10000 * sum(n_events)) DIV sum(active_days)"
            " AS BIGINT)"
        ).alias("events_per_active_day_e4"),
        F.expr(
            "CAST((100 * sum(cents)) DIV sum(active_days) AS BIGINT)"
        ).alias("value_per_active_day_e2"),
        F.expr(
            "CAST((10000 * sum(active_days))"
            " DIV sum(greatest(tenure_d, 0) + 1) AS BIGINT)"
        ).alias("active_day_density_e4"),
    ).select(
        F.col("tenure_band").cast("long").alias("tenure_band"),
        "n_users",
        "events_per_active_day_e4",
        "value_per_active_day_e2",
        "active_day_density_e4",
    )


# --- error signature of churned users' final events ----------------------------------------------------


@register(
    "pre_churn_error_signature",
    oracle="""
    , mx AS (SELECT max(epoch_us(ts)) AS t1 FROM events),
    lastk AS (
        SELECT e.user_id, e.event_type,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts DESC,
                                           e.event_id DESC) AS rk,
               max(epoch_us(e.ts)) OVER (PARTITION BY e.user_id)
                   AS last_us
        FROM events e
    ),
    lab AS (
        SELECT CASE WHEN (SELECT t1 FROM mx) - last_us
                         > 90 * 86400000000 THEN 1 ELSE 0 END
                   AS churned,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                   AS is_err
        FROM lastk WHERE rk <= 5
    )
    SELECT churned,
           CAST(count(*) AS BIGINT) AS n_final_events,
           CAST(sum(is_err) AS BIGINT) AS n_errors,
           CAST((1000000 * sum(is_err)) // count(*) AS BIGINT)
               AS error_share_ppm
    FROM lab GROUP BY churned
    """,
    doc="Did errors kill them?  Error share within each user's FINAL "
    "five events, split by churned (quiet for >90 days before the "
    "table's high-water mark) vs active — churned users exiting "
    "through errors at twice the active baseline is the cleanest "
    "observational evidence that reliability drives churn "
    "(error_run_length_histogram shows the loops; this ties them to "
    "the exit).  One user-keyed rank window in arrival-reverse "
    "order, one fold; exact integers.",
    tags=("timeseries", "retention", "reliability"),
)
def pre_churn_error_signature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("t1"))
    w = W.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    lastk = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rk"),
        F.max(F.unix_micros("ts"))
        .over(W.partitionBy("user_id"))
        .alias("last_us"),
    ).filter(F.col("rk") <= 5)
    lab = lastk.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("t1") - F.col("last_us") > 90 * 86400000000, 1
        )
        .otherwise(0)
        .alias("churned"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias(
            "is_err"
        ),
    )
    return lab.groupBy("churned").agg(
        F.count(F.lit(1)).cast("long").alias("n_final_events"),
        F.sum("is_err").cast("long").alias("n_errors"),
        F.expr(
            "CAST((1000000 * sum(is_err)) DIV count(*) AS BIGINT)"
        ).alias("error_share_ppm"),
    ).select(
        F.col("churned").cast("long").alias("churned"),
        "n_final_events",
        "n_errors",
        "error_share_ppm",
    )


# --- weekly share range per event type ------------------------------------------------------------------


@register(
    "weekly_share_range_by_type",
    oracle="""
    , wt AS (
        SELECT epoch_us(ts) // 604800000000 AS w,
               event_type, count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT w, sum(c) AS t FROM wt GROUP BY w),
    sh AS (
        SELECT wt.event_type,
               (1000000 * wt.c) // tot.t AS share_ppm
        FROM wt JOIN tot USING (w)
        WHERE tot.t >= 50
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_weeks,
           CAST(min(share_ppm) AS BIGINT) AS min_share_ppm,
           CAST(max(share_ppm) AS BIGINT) AS max_share_ppm,
           CAST(max(share_ppm) - min(share_ppm) AS BIGINT)
               AS range_ppm,
           CAST(sum(share_ppm) // count(*) AS BIGINT)
               AS mean_share_ppm
    FROM sh GROUP BY event_type
    """,
    doc="Mix stability in one row per type: the min/max/range of each "
    "event type's weekly traffic share (weeks with ≥50 events, so "
    "tiny boundary weeks don't fake a swing) — a range several "
    "times the mean share is a mix regime change the drift "
    "statistics (hellinger_half_drift, value_drift_ks_by_type) "
    "will localize; this is the cheap always-on alarm.  Exact "
    "integer shares; two aggs.",
    tags=("timeseries", "drift"),
)
def weekly_share_range_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wt = ev.groupBy(
        F.expr("unix_micros(ts) DIV 604800000000").alias("w"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = wt.groupBy("w").agg(F.sum("c").alias("t"))
    sh = (
        wt.join(F.broadcast(tot), "w")
        .filter(F.col("t") >= 50)
        .select(
            "event_type",
            F.expr("(1000000 * c) DIV t").alias("share_ppm"),
        )
    )
    return sh.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.min("share_ppm").cast("long").alias("min_share_ppm"),
        F.max("share_ppm").cast("long").alias("max_share_ppm"),
        (F.max("share_ppm") - F.min("share_ppm"))
        .cast("long")
        .alias("range_ppm"),
        F.expr(
            "CAST(sum(share_ppm) DIV count(*) AS BIGINT)"
        ).alias("mean_share_ppm"),
    )


# --- click-to-purchase conversion by hour of day ---------------------------------------------------------


@register(
    "conversion_rate_by_hour",
    oracle="""
    , h AS (
        SELECT extract(hour FROM ts) AS hr,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS clicks,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS purchases
        FROM events GROUP BY 1
    )
    SELECT CAST(hr AS BIGINT) AS hour,
           CAST(clicks AS BIGINT) AS clicks,
           CAST(purchases AS BIGINT) AS purchases,
           CAST((1000000 * purchases) // greatest(clicks, 1)
               AS BIGINT) AS purchase_per_click_ppm
    FROM h
    """,
    doc="Conversion clock: purchases per click by hour of day — "
    "volume peaks (dow_hour_profile) say when users show up, this "
    "says when they BUY; mismatched peaks move campaign spend to "
    "the converting hours rather than the busy ones.  One 24-group "
    "fold; exact integer rate.",
    tags=("timeseries", "events"),
)
def conversion_rate_by_hour(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.hour("ts").alias("hr")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("clicks"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("purchases"),
    )
    return h.select(
        F.col("hr").cast("long").alias("hour"),
        F.col("clicks").cast("long").alias("clicks"),
        F.col("purchases").cast("long").alias("purchases"),
        F.expr(
            "CAST((1000000 * purchases) DIV greatest(clicks, 1)"
            " AS BIGINT)"
        ).alias("purchase_per_click_ppm"),
    )


# --- timestamp artifact audit ------------------------------------------------------------------------


@register(
    "timestamp_artifact_audit",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN epoch_us(ts) % 1000000 = 0
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_whole_second,
           CAST(sum(CASE WHEN epoch_us(ts) % 60000000 = 0
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_whole_minute,
           CAST(sum(CASE WHEN epoch_us(ts) % 86400000000 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_midnight,
           CAST((1000000 * sum(CASE WHEN epoch_us(ts) % 1000000 = 0
                                    THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS whole_second_ppm
    FROM events
    """,
    doc="Clock-quality audit: how many event timestamps land exactly "
    "on whole seconds / minutes / midnight — real microsecond "
    "clocks land there at ~1 ppm / near-zero / never, so excess "
    "mass is truncation or defaulted-value backfill upstream, which "
    "silently breaks every sub-second latency metric "
    "(conversion_latency_percentiles) and the sessionizer's tie "
    "handling.  One scan, one fold, pure modular arithmetic.",
    tags=("timeseries", "dq"),
)
def timestamp_artifact_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    return ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(us % 1000000 == 0, 1).otherwise(0)
        ).cast("long").alias("n_whole_second"),
        F.sum(
            F.when(us % 60000000 == 0, 1).otherwise(0)
        ).cast("long").alias("n_whole_minute"),
        F.sum(
            F.when(us % 86400000000 == 0, 1).otherwise(0)
        ).cast("long").alias("n_midnight"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN unix_micros(ts) % 1000000"
            " = 0 THEN 1 ELSE 0 END)) DIV count(*) AS BIGINT)"
        ).alias("whole_second_ppm"),
    )


# --- zero/negative value audit per type ----------------------------------------------------------------


@register(
    "zero_value_share_by_type",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN round(value * 100, 0) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative,
           CAST((1000000 * sum(CASE WHEN round(value * 100, 0) = 0
                                    THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS zero_ppm
    FROM events GROUP BY event_type
    """,
    doc="Zero-inflation audit: per event type, the share of values "
    "that round to zero cents and the count of outright negatives — "
    "zero-heavy types make mean-value metrics meaningless (median "
    "or zero-excluded means needed), and negatives in a "
    "supposedly-nonnegative field are a producer bug.  The "
    "precondition check for every value_* statistic in the "
    "registry; one scan, one fold.",
    tags=("timeseries", "dq"),
)
def zero_value_share_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.round(F.col("value") * 100, 0) == 0, 1)
            .otherwise(0)
        ).cast("long").alias("n_zero"),
        F.sum(
            F.when(F.col("value") < 0, 1).otherwise(0)
        ).cast("long").alias("n_negative"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN round(value * 100, 0) = 0"
            " THEN 1 ELSE 0 END)) DIV count(*) AS BIGINT)"
        ).alias("zero_ppm"),
    )


# --- what happens right after an error? -----------------------------------------------------------------


@register(
    "post_error_next_event",
    oracle="""
    , seq AS (
        SELECT event_type,
               lead(event_type) OVER w AS next_type,
               epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    post AS (
        SELECT CASE
                 WHEN next_type IS NULL OR gap_us > 600000000
                 THEN 'abandon'
                 WHEN next_type = 'error' THEN 'retry_error'
                 ELSE next_type END AS outcome
        FROM seq WHERE event_type = 'error'
    ),
    tot AS (SELECT count(*) AS n FROM post)
    SELECT p.outcome,
           CAST(count(*) AS BIGINT) AS n_errors,
           CAST((1000000 * count(*)) // max(t.n) AS BIGINT)
               AS share_ppm
    FROM post p CROSS JOIN tot t
    GROUP BY p.outcome
    """,
    doc="The ten minutes after an error: for every error event, what "
    "the same user did next — another error within 10 min "
    "(retry-into-failure), a product action (recovered), or nothing "
    "in the window (abandoned) — the outcome split that turns error "
    "counts into user-impact terms an SRE review can rank "
    "(pre_churn_error_signature links this to churn; "
    "error_recovery_percentiles times the recoveries).  One "
    "user-keyed lead window, one fold; exact integers.",
    tags=("timeseries", "reliability"),
)
def post_error_next_event(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("gap_us"),
    )
    post = seq.filter(F.col("event_type") == "error").select(
        F.when(
            F.col("next_type").isNull()
            | (F.col("gap_us") > 600000000),
            "abandon",
        )
        .when(F.col("next_type") == "error", "retry_error")
        .otherwise(F.col("next_type"))
        .alias("outcome")
    )
    tot = post.agg(F.count(F.lit(1)).alias("n"))
    return (
        post.crossJoin(F.broadcast(tot))
        .groupBy("outcome")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_errors"),
            F.expr(
                "CAST((1000000 * count(*)) DIV max(n) AS BIGINT)"
            ).alias("share_ppm"),
        )
    )
