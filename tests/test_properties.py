"""Property-based invariants (SURVEY.md §5 item 4) via hypothesis.

Random message sequences per topic ⇒
  (a) latest-per-key holds exactly the max-(ts,event_id) message per topic;
  (b) diff-only history equals the run-length encoding of each topic's
      value sequence;
  (c) history view row count == history row count (FK integrity).
"""

import datetime as dt
from itertools import groupby

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mqtt2sql_spark.operators.history import history_rows
from mqtt2sql_spark.operators.upsert import latest_per_key

_BASE = dt.datetime(2024, 1, 1)

messages_strategy = st.lists(
    st.tuples(
        st.sampled_from(["t0", "t1", "t2"]),         # topic
        st.integers(min_value=0, max_value=500),     # minutes offset
        st.sampled_from(["A", "B", "C"]),            # value
    ),
    min_size=1,
    max_size=40,
)


def _df(spark, seq):
    rows = [
        (t, _BASE + dt.timedelta(minutes=m), v, i)
        for i, (t, m, v) in enumerate(seq)
    ]
    return spark.createDataFrame(
        rows, "topic string, ts timestamp, value_str string, event_id long"
    )


def _ctl(spark, topics, diffonly=1):
    return spark.createDataFrame(
        [(t, i + 1, 1, diffonly) for i, t in enumerate(sorted(topics))],
        "topic string, id long, history_enable int, history_diffonly int",
    )


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seq=messages_strategy)
def test_latest_is_max_ts_event_id(spark, seq):
    df = _df(spark, seq)
    got = {
        r.topic: (r.ts, r.event_id)
        for r in latest_per_key(df, "topic", ("ts", "event_id")).collect()
    }
    expected = {}
    for i, (t, m, _v) in enumerate(seq):
        key = (_BASE + dt.timedelta(minutes=m), i)
        if t not in expected or key > expected[t]:
            expected[t] = key
    assert got == expected


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seq=messages_strategy)
def test_diffonly_equals_run_length_encoding(spark, seq):
    df = _df(spark, seq)
    topics = {t for t, _, _ in seq}
    kept = history_rows(df, _ctl(spark, topics)).collect()
    got = sorted((r.topic, r.event_id) for r in kept)

    expected = []
    ordered = sorted(
        ((t, _BASE + dt.timedelta(minutes=m), v, i)
         for i, (t, m, v) in enumerate(seq)),
        key=lambda r: (r[0], r[1], r[3]),
    )
    for topic, grp in groupby(ordered, key=lambda r: r[0]):
        for value, run in groupby(grp, key=lambda r: r[2]):
            first = next(run)
            expected.append((topic, first[3]))
    assert got == sorted(expected)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seq=messages_strategy)
def test_view_rowcount_equals_history_rowcount(spark, seq):
    from pyspark.sql import functions as F

    df = _df(spark, seq)
    topics = {t for t, _, _ in seq}
    ctl = _ctl(spark, topics)
    hist = history_rows(df, ctl)
    dim = ctl.select("id", "topic")
    view = hist.join(F.broadcast(dim), hist["topicid"] == dim["id"], "inner")
    assert view.count() == hist.count()


# --- chunking / redaction properties ---------------------------------------

from mqtt2sql_spark.plans.text import (  # noqa: E402
    CHUNK_CHARS,
    CHUNK_STRIDE,
    EMAIL_RE,
    PHONE_RE,
)

texts_strategy = st.lists(
    st.text(
        alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
        min_size=1,
        max_size=300,
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=texts_strategy)
def test_chunks_reconstruct_document(spark, texts, tmp_path_factory):
    """Concatenating each chunk's first CHUNK_STRIDE chars (plus the last
    chunk's tail) must reproduce the document exactly — no byte lost or
    duplicated by the overlap arithmetic."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    sf_dir = str(tmp_path_factory.mktemp("chunks"))
    spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in enumerate(texts)]
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    from mqtt2sql_spark.plans.text import text_chunk_overlap

    rows = text_chunk_overlap(spark, sf_dir).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_id)):
        prev = by_doc.get(r.doc_id, "")
        # chunks overlap by CHUNK_CHARS - CHUNK_STRIDE: strip the overlap
        by_doc[r.doc_id] = prev + (
            r.chunk_text if not prev else r.chunk_text[CHUNK_CHARS - CHUNK_STRIDE:]
        )
    for i, t in enumerate(texts):
        assert by_doc[i] == t, f"doc {i} reconstruction mismatch"


def test_redaction_is_idempotent_and_complete(spark):
    """After one redaction pass no email/phone pattern remains, so a
    second pass is a no-op."""
    import pyspark.sql.functions as F

    from mqtt2sql_spark.plans.text import pii_redact
    from tests.conftest import SF_DIR

    red = pii_redact(spark, SF_DIR)
    leftover = red.filter(
        (F.regexp_count("redacted", F.lit(EMAIL_RE)) > 0)
        | (F.regexp_count("redacted", F.lit(PHONE_RE)) > 0)
    ).count()
    assert leftover == 0
    assert red.filter((F.col("n_emails") < 1) | (F.col("n_phones") < 1)).count() == 0


# --- round-3 corpus-assembly / history-maintenance properties ---------------

docs_tokens_strategy = st.lists(
    st.tuples(
        st.sampled_from(["sA", "sB"]),                    # source
        st.integers(min_value=0, max_value=40),           # word count
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=docs_tokens_strategy)
def test_pack_offsets_partition_the_concatenation(spark, docs, tmp_path_factory):
    """Per source: start offsets are the exact prefix sums of token
    counts (including zero-token docs), and the crosses_boundary flag
    agrees with the sequence-index span."""
    from pyspark.sql import Row

    from mqtt2sql_spark.plans.mixing import PACK_MAX_LEN, pack_sequences_greedy

    sf_dir = str(tmp_path_factory.mktemp("pack"))
    spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["w"] * n), lang="en", source=s,
             n_chars=2 * n)
         for i, (s, n) in enumerate(docs)]
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    rows = pack_sequences_greedy(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    per_source = {}
    for r in sorted(rows, key=lambda r: r.doc_id):
        acc = per_source.get(r.source, 0)
        assert r.start_off == acc, (r.doc_id, r.start_off, acc)
        per_source[r.source] = acc + r.n_tok
        end = max(r.start_off + r.n_tok - 1, r.start_off)
        assert r.seq_first == r.start_off // PACK_MAX_LEN
        assert r.seq_last == end // PACK_MAX_LEN
        assert r.crosses_boundary == int(r.seq_first != r.seq_last)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seq=messages_strategy)
def test_value_runs_equal_python_rle(spark, seq):
    """history_value_runs must equal itertools.groupby run-length
    encoding of each topic's (ts, event_id)-ordered value sequence."""
    from mqtt2sql_spark.plans.core import history_value_runs  # noqa: F401
    from pyspark.sql import Window as W
    import pyspark.sql.functions as F

    df = _df(spark, seq)
    # replicate the operator's core on an in-memory frame (the registered
    # query reads the fixture layout; the operator logic is the windows)
    w = W.partitionBy("topic").orderBy("ts", "event_id")
    flagged = df.withColumn(
        "chg",
        F.when(
            F.lag("value_str").over(w).isNull()
            | (F.lag("value_str").over(w) != F.col("value_str")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    got = {
        (r.topic, r.run_id, r.value_str): r.n
        for r in runs.groupBy("topic", "run_id", "value_str")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    expect = {}
    by_topic = {}
    for i, (t, m, v) in enumerate(seq):
        by_topic.setdefault(t, []).append((_BASE + dt.timedelta(minutes=m), i, v))
    for t, rows in by_topic.items():
        rows.sort()
        rid = 0
        for v, grp in groupby(rows, key=lambda r: r[2]):
            rid += 1
            expect[(t, rid, v)] = len(list(grp))
    assert got == expect


@given(seq=messages_strategy, seed=st.integers(min_value=0, max_value=9))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_throttle_kept_set_is_order_invariant(spark, seq, seed):
    """The throttle's kept set (first per key+bucket under the TOTAL
    order) must not depend on input row order or partition layout —
    shuffle the sequence and repartition arbitrarily, same answer."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    def kept(rows, n_parts):
        df = spark.createDataFrame(
            rows, "topic string, ts timestamp, value_str string, event_id long"
        ).repartition(n_parts)
        bkt = F.expr("unix_micros(ts) DIV 300000000")
        w = W.partitionBy("topic", bkt).orderBy("ts", "event_id")
        return {
            (r.topic, r.event_id)
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        }

    rows = [
        (t, _BASE + dt.timedelta(minutes=m), v, i)
        for i, (t, m, v) in enumerate(seq)
    ]
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    assert kept(rows, 2) == kept(shuffled, 7)


points_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # x
        st.integers(min_value=0, max_value=20),  # y
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(points_strategy, st.integers(min_value=1, max_value=5))
def test_skyline_matches_bruteforce_under_partitioning(spark, pts, n_parts):
    """Two-phase distributed skyline == O(n²) domination brute force,
    for any physical partitioning (multiset semantics: equal points are
    mutually non-dominating and every copy survives)."""
    from mqtt2sql_spark.operators.skyline import skyline_min_min

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]

    def dominated(a):
        return any(
            bx <= a[1] and by <= a[2] and (bx < a[1] or by < a[2])
            for _, bx, by in rows
        )

    expect = {r[0] for r in rows if not dominated(r)}
    df = spark.createDataFrame(
        rows, "pid long, x long, y long"
    ).repartition(n_parts)
    got = {r.pid for r in skyline_min_min(df, "x", "y").collect()}
    assert got == expect


samples_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=15),  # value (small → many ties)
    ),
    min_size=2,
    max_size=50,
).filter(lambda s: {g for g, _ in s} == {"a", "b"})


def _two_sample_base(spark, samples, n_parts):
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [(float(v), 1 if g == "a" else 0, 1 if g == "b" else 0)
         for g, v in samples],
        "value double, a int, b int",
    ).repartition(n_parts)
    return df.groupBy("value").agg(
        SF.sum("a").alias("ca"), SF.sum("b").alias("cb")
    )


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(samples_strategy, st.integers(min_value=1, max_value=5))
def test_ks_statistic_matches_python_reference(spark, samples, n_parts):
    """Distributed KS == direct Python ECDF evaluation, exactly."""
    import pyspark.sql.functions as SF

    from mqtt2sql_spark.operators.stats import ks_statistic

    a = sorted(v for g, v in samples if g == "a")
    bs = sorted(v for g, v in samples if g == "b")
    na, nb = len(a), len(bs)
    import bisect

    d_num = max(
        abs(bisect.bisect_right(a, v) * nb - bisect.bisect_right(bs, v) * na)
        for v in {v for _, v in samples}
    )
    row = ks_statistic(
        _two_sample_base(spark, samples, n_parts),
        SF.floor("value").cast("long"),
    ).collect()[0]
    assert (row.n_a, row.n_b, row.d_num, row.d_den) == (
        na, nb, d_num, na * nb
    )


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(samples_strategy, st.integers(min_value=1, max_value=5))
def test_mannwhitney_matches_python_reference(spark, samples, n_parts):
    """Distributed doubled-rank U == direct Python midrank computation."""
    import pyspark.sql.functions as SF

    from mqtt2sql_spark.operators.stats import mannwhitney_u

    vals = sorted(v for _, v in samples)
    # doubled midrank of value v: positions lo+1..hi (1-based) → 2*avg
    import bisect

    def rank2(v):
        lo = bisect.bisect_left(vals, v)
        hi = bisect.bisect_right(vals, v)
        return (lo + 1) + hi  # 2 * (lo+1+hi)/2

    a = [v for g, v in samples if g == "a"]
    na = len(a)
    nb = len(samples) - na
    r2a = sum(rank2(v) for v in a)
    u2a = r2a - na * (na + 1)
    row = mannwhitney_u(
        _two_sample_base(spark, samples, n_parts),
        SF.floor("value").cast("long"),
    ).collect()[0]
    assert (row.n_a, row.n_b, row.u2_a, row.u2_b) == (
        na, nb, u2a, 2 * na * nb - u2a
    )


def _count_relation(spark, rel):
    return spark.createDataFrame(rel, "value double, ca long, cb long")


def _two_sample_reference(rel):
    """Exact (n_a, n_b, d_num, u2_a) from (value, ca, cb) counts in Python
    integers: ECDF cross-multiplied gap and doubled midrank sum."""
    na = sum(ca for _, ca, _ in rel)
    nb = sum(cb for _, _, cb in rel)
    cca = ccb = cprev = r2a = d_num = 0
    for _, ca, cb in sorted(rel):
        cca, ccb = cca + ca, ccb + cb
        d_num = max(d_num, abs(cca * nb - ccb * na))
        r2a += ca * (2 * cprev + ca + cb + 1)
        cprev += ca + cb
    return na, nb, d_num, r2a - na * (na + 1)


def test_mannwhitney_exact_past_int64_crossover(spark):
    """n_a * (n_a + 1) > 2^63: the rank-sum products must stay exact (the
    DECIMAL(38,0) widening), not overflow a long."""
    import pyspark.sql.functions as SF

    from mqtt2sql_spark.operators.stats import mannwhitney_u

    rel = [(1.0, 3_500_000_000, 0), (2.0, 0, 1), (3.0, 1, 0)]
    na, nb, _, u2a = _two_sample_reference(rel)
    assert na * (na + 1) > 2**63
    row = mannwhitney_u(
        _count_relation(spark, rel), SF.floor("value").cast("long")
    ).collect()[0]
    assert (row.n_a, row.n_b, row.u2_a, row.u2_b) == (
        na, nb, u2a, 2 * na * nb - u2a
    ) == (3_500_000_001, 1, 2, 7_000_000_000)


def test_ks_statistic_exact_just_below_int64_limit(spark):
    """n_a * n_b just below 2^63: d_num and d_den come back exact."""
    import pyspark.sql.functions as SF

    from mqtt2sql_spark.operators.stats import ks_statistic

    n = 3_037_000_499  # floor(sqrt(2^63))
    rel = [(1.0, n - 1, 0), (2.0, 0, n), (3.0, 1, 0)]
    na, nb, d_num, _ = _two_sample_reference(rel)
    assert 2**63 - 2**33 < na * nb < 2**63
    row = ks_statistic(
        _count_relation(spark, rel), SF.floor("value").cast("long")
    ).collect()[0]
    assert (row.n_a, row.n_b, row.d_num, row.d_den) == (
        na, nb, d_num, na * nb
    )
    assert row.argmax_v_fp == 10_000
