"""Sketch aggregates: HLL estimate quality and determinism."""

from tests.conftest import SF_DIR


def test_hll_estimate_within_error_bound(spark):
    from mqtt2sql_spark.plans.sketches import M, hll_distinct_users

    rows = hll_distinct_users(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r.registers_hit <= M
        # raw HLL at m=64: sigma ~13%; allow 25%
        rel_err = abs(r.est_hll - r.n_exact) / r.n_exact
        assert rel_err < 0.25, (r.event_type, r.est_hll, r.n_exact)


def test_hll_deterministic(spark):
    from mqtt2sql_spark.plans.sketches import hll_distinct_users

    a = sorted(map(tuple, hll_distinct_users(spark, SF_DIR).collect()))
    b = sorted(map(tuple, hll_distinct_users(spark, SF_DIR).collect()))
    assert a == b


def test_daily_merged_hll_equals_direct(spark):
    """Register max is associative: per-day sketches merged across days
    must estimate bit-identically to the single-pass sketch."""
    from mqtt2sql_spark.plans.sketches import hll_daily_merge, hll_distinct_users
    from tests.conftest import SF_DIR

    direct = {r.event_type: r.est_hll for r in hll_distinct_users(spark, SF_DIR).collect()}
    merged = {r.event_type: r.est_merged for r in hll_daily_merge(spark, SF_DIR).collect()}
    assert merged == direct


# --- count-min -------------------------------------------------------------


def test_count_min_is_one_sided_and_bounded(spark):
    from tests.conftest import SF_DIR

    from mqtt2sql_spark.fixtures import messages
    from mqtt2sql_spark.plans.sketches import (
        CM_DEPTH,
        CM_TOPK,
        count_min_topic_freq,
    )

    rows = count_min_topic_freq(spark, SF_DIR).collect()
    assert 0 < len(rows) <= CM_TOPK
    total = messages(spark, SF_DIR).count()
    for r in rows:
        # CMS property: estimate never undercounts...
        assert r.est_n >= r.true_n
        assert r.over_n == r.est_n - r.true_n
        # ...and the row-minimum bounds the overestimate by the stream size
        assert r.est_n <= total


def test_count_min_matches_reference_python(spark):
    """Cross-check the bucket arithmetic against a pure-Python CMS."""
    import hashlib
    from collections import Counter, defaultdict

    from tests.conftest import SF_DIR

    from mqtt2sql_spark.fixtures import messages
    from mqtt2sql_spark.plans.sketches import (
        CM_DEPTH,
        CM_TOPK,
        CM_WIDTH,
        count_min_topic_freq,
    )

    topics = [r.topic for r in messages(spark, SF_DIR).select("topic").collect()]
    sketch = defaultdict(int)

    def bkt(i, t):
        return int(hashlib.md5(f"{i}:{t}".encode()).hexdigest()[:8], 16) % CM_WIDTH

    for t in topics:
        for i in range(CM_DEPTH):
            sketch[(i, bkt(i, t))] += 1
    true = Counter(topics)
    got = {r.topic: (r.true_n, r.est_n) for r in count_min_topic_freq(spark, SF_DIR).collect()}
    for topic, (tn, en) in got.items():
        assert tn == true[topic]
        assert en == min(sketch[(i, bkt(i, topic))] for i in range(CM_DEPTH))


# --- KMV theta sketch ------------------------------------------------------


def test_kmv_union_estimate_within_error_bound(spark):
    """KMV at k=64: sigma ~ 1/sqrt(k-2) ~ 13%; allow 30% on the union
    estimate, and require the inclusion-exclusion intersection to stay
    within an additive band of the exact overlap."""
    from mqtt2sql_spark.plans.sketches import kmv_theta_sketch_pairs

    rows = kmv_theta_sketch_pairs(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.ta < r.tb
        rel = abs(r.est_union - r.n_union_exact) / r.n_union_exact
        assert rel < 0.30, (r.ta, r.tb, r.est_union, r.n_union_exact)
        # intersection inherits error from three estimates: wide band
        assert abs(r.est_inter - r.n_inter_exact) <= 0.6 * r.n_union_exact


def test_kmv_merge_never_touches_raw_data(spark):
    """The union estimate must be computable from the two per-type
    sketches alone: k smallest of (sketch_a union sketch_b) equals the
    k smallest of the full hash union."""
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.sketches import KMV_K

    ev = load_table(spark, SF_DIR, "events")
    kh = ev.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long").alias("h"),
    ).distinct()
    types = [r.event_type for r in kh.select("event_type").distinct().collect()]
    a, b = sorted(types)[:2]
    full = sorted(
        r.h
        for r in kh.where(F.col("event_type").isin([a, b]))
        .select("h").distinct().collect()
    )[:KMV_K]
    per_type = {
        t: sorted(r.h for r in kh.where(F.col("event_type") == t)
                  .select("h").collect())[:KMV_K]
        for t in (a, b)
    }
    merged = sorted(set(per_type[a]) | set(per_type[b]))[:KMV_K]
    assert merged == full


def test_bitmap_overlap_is_exact(spark):
    """Bitmap AND-intersection must equal exact distinct-user overlap."""
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.sketches import bitmap_user_overlap

    rows = bitmap_user_overlap(spark, SF_DIR).collect()
    assert rows
    du = (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "user_id")
        .distinct()
        .collect()
    )
    sets = {}
    for r in du:
        sets.setdefault(r.event_type, set()).add(r.user_id)
    for r in rows:
        a, b = sets[r.ta], sets[r.tb]
        assert r.n_a == len(a) and r.n_b == len(b)
        assert r.co_users == len(a & b)
        assert r.jaccard_ppm == len(a & b) * 1_000_000 // len(a | b)


def test_rolling_hll_tracks_exact_within_error(spark):
    from mqtt2sql_spark.plans.sketches import hll_rolling_30d_distinct

    rows = hll_rolling_30d_distinct(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        rel = abs(r.est_rolling - r.n_exact) / max(r.n_exact, 1)
        assert rel < 0.25, (r.day, r.est_rolling, r.n_exact)


def test_upset_masks_partition_user_days(spark):
    from pyspark.sql import functions as F

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.sketches import event_type_upset_combos

    rows = event_type_upset_combos(spark, SF_DIR).collect()
    assert rows
    n_user_days = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", F.col("ts").cast("date"))
        .distinct()
        .count()
    )
    assert sum(r.n_users for r in rows) == n_user_days
    for r in rows:
        assert 1 <= r.mask <= 31
        assert r.n_types == bin(r.mask).count("1")
