"""Parquet ingest directories: schema drift across drops."""


def test_parquet_schema_evolution_merges_new_column(spark, tmp_path):
    """Schema drift across drops: a later batch adds a column; readers
    opting into mergeSchema see the union schema with nulls backfilled,
    and the pinned-schema read keeps working against old batches — the
    two contracts a long-lived ingest directory needs."""
    base = str(tmp_path / "evo")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    v1.write.parquet(base + "/batch=1")
    v2 = spark.createDataFrame(
        [(3, "c", "en")], "doc_id long, text string, lang string"
    )
    v2.write.parquet(base + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"doc_id", "text", "lang", "batch"}
    rows = {r.doc_id: r.lang for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "en"}

    # pinned-schema read of the old batch is unaffected by the new field
    old = spark.read.schema("doc_id long, text string").parquet(
        base + "/batch=1"
    )
    assert old.count() == 2
