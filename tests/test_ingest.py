"""Parquet schema evolution across ingest generations."""


def test_schema_evolution_merge_across_generations(spark, tmp_path):
    """Ingestion contract for evolving corpora: generation 2 adds a column
    — mergeSchema reads both generations with the union schema (old rows
    NULL in the new column), and the old fixed-schema read path still
    works against the new files via explicit schema projection. The two
    failure modes this pins: silently dropping the new column (default
    read picks one file's schema) and crashing on the old files."""
    import os

    from pyspark.sql import functions as F

    d = str(tmp_path)
    gen1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    gen1.coalesce(1).write.mode("append").parquet(d)
    gen2 = spark.createDataFrame(
        [(3, "gamma", "en")], "doc_id long, text string, lang string"
    )
    gen2.coalesce(1).write.mode("append").parquet(d)

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    rows = {r.doc_id: r.lang for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "en"}

    # the legacy reader's explicit projection still works on mixed files
    legacy = spark.read.schema("doc_id long, text string").parquet(d)
    assert legacy.count() == 3 and set(legacy.columns) == {"doc_id", "text"}

    # and a pipeline expression over the union schema treats absent as null
    got = (
        merged.select(F.coalesce("lang", F.lit("und")).alias("lang"))
        .groupBy("lang")
        .count()
        .collect()
    )
    assert {(r.lang, r["count"]) for r in got} == {("und", 2), ("en", 1)}
