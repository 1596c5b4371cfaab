"""Similarity-search operators: exactness of the baseline, recall of LSH."""

from tests.conftest import SF_DIR


def test_vector_norms_are_unit(spark):
    from mqtt2sql_spark.plans.similarity import vector_norms

    out = vector_norms(spark, SF_DIR).collect()
    assert len(out) > 0
    assert all(abs(r.l2_norm - 1.0) < 1e-3 for r in out)
    assert all(r.dim == 64 for r in out)


def test_lsh_recall_against_brute_force(spark):
    from mqtt2sql_spark.plans.similarity import ann_cosine_topk, ann_lsh_topk

    exact = {
        (r.query_id, r.vec_id) for r in ann_cosine_topk(spark, SF_DIR).collect()
    }
    approx = {
        (r.query_id, r.vec_id) for r in ann_lsh_topk(spark, SF_DIR).collect()
    }
    assert approx, "LSH produced no candidates"
    # every LSH hit must be a real (query, candidate) pair with rank
    # consistency inside its bucket; recall is data-dependent — require a
    # sane floor on this fixture
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"recall collapsed: {recall}"


def test_lsh_buckets_are_deterministic(spark):
    from mqtt2sql_spark.plans.similarity import lsh_buckets

    a = {(r.vec_id, r.tbl, r.bucket) for r in lsh_buckets(spark, SF_DIR).collect()}
    b = {(r.vec_id, r.tbl, r.bucket) for r in lsh_buckets(spark, SF_DIR).collect()}
    assert a == b
    n_buckets = len({(t, bk) for _, t, bk in a})
    assert n_buckets > 16  # projections actually spread the space


def test_ivf_recall_and_cell_partition(spark):
    from pyspark.sql import functions as F

    from mqtt2sql_spark.plans.similarity import (
        CELL_MOD,
        ann_cosine_topk,
        ann_ivf_topk,
        _emb,
    )

    exact = {
        (r.query_id, r.vec_id) for r in ann_cosine_topk(spark, SF_DIR).collect()
    }
    ivf_rows = ann_ivf_topk(spark, SF_DIR).collect()
    ivf = {(r.query_id, r.vec_id) for r in ivf_rows}
    assert ivf, "IVF produced no candidates"
    # pairs are unique (one cell per corpus vector ⇒ no double counting)
    assert len(ivf) == len(ivf_rows)
    # seed centroids + nprobe=3 — data-dependent recall, sane floor only
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.25, f"recall collapsed: {recall}"
    # every query returns at most TOP_K ranked 1..k without gaps
    by_q = {}
    for r in ivf_rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # the centroid seed set is nonempty and much smaller than the corpus
    n = _emb(spark, SF_DIR).count()
    k = _emb(spark, SF_DIR).filter(F.col("vec_id") % CELL_MOD == 1).count()
    assert 0 < k < n / 4


def test_quantize_int8_codes_cover_range(spark):
    from mqtt2sql_spark.plans.similarity import embedding_quantize_int8

    rows = embedding_quantize_int8(spark, SF_DIR).collect()
    assert rows
    qs = [r.q for r in rows]
    assert min(qs) == 0 and max(qs) == 255  # min/max map to the endpoints
    assert all(0 <= q <= 255 for q in qs)
    # every vector emits exactly 64 codes
    from collections import Counter

    per_vec = Counter(r.vec_id for r in rows)
    assert set(per_vec.values()) == {64}


def test_kmeans_assignment_is_deterministic_and_clusters_cohere(spark):
    """Two plan executions give identical assignments (integer-quantized
    arithmetic — no float summation-order wobble), every vector lands in
    exactly one cluster, and the assignment is locally optimal w.r.t.
    the final centroids (it was chosen as the argmin)."""
    from mqtt2sql_spark.plans.similarity import KM_K, embedding_kmeans_assign
    from tests.conftest import SF_DIR

    a = {r.vec_id: (r.cluster, r.dist_fp)
         for r in embedding_kmeans_assign(spark, SF_DIR).collect()}
    b = {r.vec_id: (r.cluster, r.dist_fp)
         for r in embedding_kmeans_assign(spark, SF_DIR).collect()}
    assert a == b
    n_vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(a) == n_vecs
    assert {c for c, _ in a.values()} <= set(range(KM_K))
    assert all(d >= 0 for _, d in a.values())


def test_kmeans_broadcasts_centroids_no_fact_sort_merge(spark):
    """Centroids (K*dim rows) must broadcast into the long-format scan:
    the corpus side never sort-merge-joins against itself."""
    from mqtt2sql_spark.plans.similarity import embedding_kmeans_assign
    from tests.conftest import SF_DIR

    jvm = spark.sparkContext._jvm
    df = embedding_kmeans_assign(spark, SF_DIR)
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan  # argmin rank prunes before shuffle


def test_semantic_dedup_drops_parallel_vector_keeps_lower_id(spark, tmp_path):
    """Two near-parallel vectors whose ids land in the same init cluster:
    the higher id is dropped, the lower kept; an orthogonal vector in the
    same cluster survives."""
    from mqtt2sql_spark.plans.similarity import KM_K, semantic_dedup_keep

    d = 8
    base = [1.0] + [0.0] * (d - 1)
    near = [0.999] + [0.01] * (d - 1)
    ortho = [0.0] * (d - 1) + [1.0]
    # ids chosen to share (id % KM_K) so all start in one cluster
    vecs = [(0, base, 0), (KM_K, near, 0), (2 * KM_K, ortho, 0)]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {r.vec_id: r.keep for r in
           semantic_dedup_keep(spark, str(tmp_path)).collect()}
    assert out[0] == 1          # canonical survivor
    assert out[KM_K] == 0       # cosine-parallel to a lower id → dropped
    assert out[2 * KM_K] == 1   # orthogonal → kept


def test_ndcg_bounds_and_perfect_ranking_sanity(spark):
    """nDCG is in (0, 1e6]; a query whose LSH list matches the exact
    top-k in order must score exactly 1e6 ppm."""
    from mqtt2sql_spark.plans.similarity import (
        _NDCG_IDCG,
        _NDCG_W,
        TOP_K,
        ann_cosine_topk,
        ann_lsh_topk,
        ann_ndcg_eval,
    )

    rows = ann_ndcg_eval(spark, SF_DIR).collect()
    assert rows
    exact = {}
    for r in ann_cosine_topk(spark, SF_DIR).collect():
        exact.setdefault(r.query_id, {})[r.vec_id] = r.rank
    lsh = {}
    for r in ann_lsh_topk(spark, SF_DIR).collect():
        lsh.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    for r in rows:
        assert 0 <= r.ndcg_ppm <= 1_000_000
        # recompute in plain Python
        dcg = 0
        for rank, vid in sorted(lsh[r.query_id]):
            er = exact.get(r.query_id, {}).get(vid)
            if er is not None:
                dcg += (TOP_K + 1 - er) * _NDCG_W[rank - 1]
        assert dcg == r.dcg_micro
        assert r.ndcg_ppm == dcg * 1_000_000 // _NDCG_IDCG
        if [v for _, v in sorted(lsh[r.query_id])] == [
            v for v, _ in sorted(exact[r.query_id].items(), key=lambda x: x[1])
        ]:
            assert r.ndcg_ppm == 1_000_000


def test_triplets_pick_true_extremes(spark):
    """pos/neg are the true nearest same/other-label vectors, verified
    by numpy brute force for every anchor."""
    import numpy as np

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.similarity import (
        QUERY_MOD,
        triplet_mining_margin,
    )

    rows = {r.query_id: r for r in triplet_mining_margin(spark, SF_DIR).collect()}
    assert rows
    data = load_table(spark, SF_DIR, "embeddings").collect()
    vecs = {r.vec_id: (np.array(r.embedding, dtype=np.float64), r.label)
            for r in data}
    for qid, row in rows.items():
        qv, qlab = vecs[qid]
        best = {1: (-2.0, None), 0: (-2.0, None)}
        for vid, (v, lab) in vecs.items():
            if vid == qid:
                continue
            cos = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            key = round(cos, 6)
            same = 1 if lab == qlab else 0
            cur = best[same]
            if key > cur[0] or (key == cur[0] and (cur[1] is None or vid < cur[1])):
                best[same] = (key, vid)
        assert row.pos_id == best[1][1]
        assert row.neg_id == best[0][1]
        assert row.satisfied == (1 if row.margin_x1e6 > 200_000 else 0)


def test_nprobe_recall_is_monotone(spark):
    """More probed cells can only add candidates: recall must be
    non-decreasing in nprobe, and nprobe=3 must match the registered
    IVF top-k's recall against the exact ranking."""
    from mqtt2sql_spark.plans.similarity import (
        TOP_K,
        ann_cosine_topk,
        ann_ivf_topk,
        ivf_nprobe_sensitivity,
    )

    rows = sorted(
        ivf_nprobe_sensitivity(spark, SF_DIR).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 3]
    recalls = [r.recall_ppm for r in rows]
    assert recalls == sorted(recalls)
    exact = {
        (r.query_id, r.vec_id) for r in ann_cosine_topk(spark, SF_DIR).collect()
    }
    ivf = {
        (r.query_id, r.vec_id) for r in ann_ivf_topk(spark, SF_DIR).collect()
    }
    n_queries = rows[2].n_queries
    assert rows[2].n_hits == len(exact & ivf)
    assert rows[2].recall_ppm == len(exact & ivf) * 1_000_000 // (
        n_queries * TOP_K
    )


def test_label_separation_positive_when_labels_cluster(spark):
    from mqtt2sql_spark.plans.similarity import label_cosine_separation

    rows = label_cosine_separation(spark, SF_DIR).collect()
    assert rows
    # the measurement must at least find SOME geometric signal; how
    # many labels separate is a data property (weak at tiny scale)
    better = sum(1 for r in rows if r.mean_same_x1e6 > r.mean_other_x1e6)
    assert better >= 1
    for r in rows:
        assert -1_000_000 <= r.mean_same_x1e6 <= 1_000_000
        assert -1_000_000 <= r.mean_other_x1e6 <= 1_000_000


def test_effective_classes_bounds(spark):
    from mqtt2sql_spark.plans.similarity import (
        label_balance_effective_classes,
    )

    r = label_balance_effective_classes(spark, SF_DIR).collect()[0]
    # 1 <= effective classes <= n_labels, equality iff balanced
    assert 100 <= r.effective_classes_x100 <= r.n_labels * 100
    assert r.min_label_n <= r.max_label_n
    if r.min_label_n == r.max_label_n:
        assert r.effective_classes_x100 == r.n_labels * 100


def test_anova_decomposition_reconciles(spark):
    """SSB + SSW must equal total SS (up to per-group floor slack of
    at most one unit per label)."""
    import numpy as np

    from mqtt2sql_spark.fixtures import load_table
    from mqtt2sql_spark.plans.similarity import norm_anova_by_label

    r = norm_anova_by_label(spark, SF_DIR).collect()[0]
    assert r.ssb_fp >= 0 and r.ssw_fp >= 0
    rows = load_table(spark, SF_DIR, "embeddings").collect()
    vs = [
        int(np.floor(np.sqrt(np.dot(e.embedding, e.embedding)) * 1e6 + 0.5))
        for e in rows
    ]
    total_ss = sum(v * v for v in vs) - sum(vs) ** 2 // len(vs)
    assert abs((r.ssb_fp + r.ssw_fp) - total_ss) <= r.n_labels + 1


def test_cosine_histogram_sums_to_population(spark):
    from mqtt2sql_spark.plans.similarity import (
        QUERY_MOD,
        cosine_histogram_sampled,
    )
    from mqtt2sql_spark.fixtures import load_table

    rows = cosine_histogram_sampled(spark, SF_DIR).collect()
    assert rows
    n = load_table(spark, SF_DIR, "embeddings").count()
    n_q = sum(
        1
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id")
        .collect()
        if r.vec_id % QUERY_MOD == 0
    )
    assert sum(r.n_pairs for r in rows) == n_q * (n - 1)
    for r in rows:
        assert 0 <= r.cos_band <= 19


def test_ivf_stairs_python_sql_agree_and_bound_k():
    """The scale-adaptive centroid stride must be the SAME function of
    the corpus count in Python (Spark builders) and SQL (DuckDB
    oracles), and must keep K = n/stride in a broadcastable band at
    every corpus size."""
    import duckdb

    from mqtt2sql_spark.plans.similarity import (
        _DUCK_CELL_MOD,
        _IVF_STAIRS,
        ivf_cell_mod,
    )

    con = duckdb.connect()
    probe_ns = [1, 20, 200, 2000, 9999, 10**4, 10**5 - 1, 10**5,
                10**6, 10**7, 10**8, 5 * 10**8, 10**9]
    # add each band edge +-1
    for lo, _mod in _IVF_STAIRS:
        probe_ns += [lo - 1, lo, lo + 1]
    for n in sorted(set(probe_ns)):
        con.execute("CREATE OR REPLACE VIEW embeddings AS "
                    f"SELECT * FROM range({n})")
        sql_mod = con.execute(f"SELECT {_DUCK_CELL_MOD}").fetchone()[0]
        assert sql_mod == ivf_cell_mod(n), (n, sql_mod, ivf_cell_mod(n))
        # K stays in a broadcastable band up to 1e9 vectors
        k = n // ivf_cell_mod(n)
        assert k <= 20000, (n, k)


def test_km_stairs_python_sql_agree_and_bound_k():
    """The scale-adaptive k-means cluster count must be the SAME
    function of the corpus count in Python (Spark builders) and SQL
    (DuckDB oracles), keep the centroid relation broadcastable
    (K*dim rows), and keep the cell-confined pair work sub-quadratic
    (cell size ~ sqrt(N) up to the cap)."""
    import duckdb

    from mqtt2sql_spark.plans.similarity import (
        _DUCK_KM_K,
        _KM_STAIRS,
        KM_K,
        km_clusters,
    )

    con = duckdb.connect()
    probe_ns = [1, 20, 200, 2000, 9999, 10**4, 10**5 - 1, 10**5,
                10**6, 10**7, 10**8, 5 * 10**8, 10**9]
    for lo, _k in _KM_STAIRS:
        probe_ns += [lo - 1, lo, lo + 1]
    for n in sorted(set(probe_ns)):
        con.execute("CREATE OR REPLACE VIEW embeddings AS "
                    f"SELECT * FROM range({n})")
        sql_k = con.execute(f"SELECT {_DUCK_KM_K}").fetchone()[0]
        assert sql_k == km_clusters(n), (n, sql_k, km_clusters(n))
        # fixture band unchanged (results identical at oracle-gated SFs)
        if n <= 2000:
            assert sql_k == KM_K
        # centroid relation stays broadcastable: K*64 dims <= ~512k rows
        assert sql_k * 64 <= 1 << 20, (n, sql_k)
        # cell size grows sub-linearly until the cap band
        if 10**4 <= n <= 10**8:
            assert n // sql_k <= 32 * int(n ** 0.5), (n, sql_k)
