"""Integer-quantized GD classifier training (operators/train.py): exact
hand cases, distributed == sequential-Python replay, learning efficacy,
and the cross-engine md5 bucket twin."""

import hashlib
import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from covid19_spark.operators.train import (
    SCALE,
    count_features,
    hard_sigmoid_int,
    md5_bucket,
    md5_bucket_sql,
    score_quantized_lr,
    train_quantized_lr,
    with_intercept,
)


def test_md5_bucket_matches_duckdb_and_python(spark):
    import duckdb

    vals = ["spark", "hash", "a", "", "Straße", "0"]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    got = {r.t: r.b for r in df.select("t", md5_bucket(F.col("t")).alias("b")).collect()}
    con = duckdb.connect()
    for v in vals:
        (b,) = con.execute(
            f"SELECT {md5_bucket_sql('t', 32)} FROM (SELECT ? AS t)", [v]
        ).fetchone()
        assert got[v] == b
        assert got[v] == int(hashlib.md5(v.encode()).hexdigest()[:8], 16) % 32


def test_hard_sigmoid_exact_integer_cases(spark):
    rows = [(-5 * SCALE,), (-2 * SCALE,), (-2,), (0,), (2,), (2 * SCALE,), (9 * SCALE,)]
    df = spark.createDataFrame(rows, "z long")
    got = {r.z: r.p for r in df.select("z", hard_sigmoid_int(F.col("z")).alias("p")).collect()}
    assert got[-5 * SCALE] == 0  # saturated low
    assert got[-2 * SCALE] == 0  # boundary: S/2 + floor(-2S/4) = 0
    assert got[-2] == SCALE // 2 - 1  # floor(-0.5) = -1
    assert got[0] == SCALE // 2
    assert got[2] == SCALE // 2  # floor(0.5) = 0
    assert got[2 * SCALE] == SCALE
    assert got[9 * SCALE] == SCALE  # saturated high


def _toy(spark):
    """12 docs: label == (doc length >= 4 tokens); vocab of 6 words."""
    words = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = []
    for i in range(12):
        k = 2 + (i % 6)
        text = " ".join(words[(i + j) % 6] for j in range(k))
        rows.append((i, text, 1 if k >= 4 else 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")
    labels = docs.select("doc_id", "y")
    feats = with_intercept(
        count_features(docs, "doc_id", "text"), labels, "doc_id"
    )
    return docs, feats, labels


def test_distributed_training_equals_python_replay(spark):
    """The Spark loop and a sequential pure-Python replay of the same
    recurrence produce IDENTICAL integer weights — the reproducibility
    claim the oracle also checks cross-engine."""
    docs, feats, labels = _toy(spark)
    w_spark = train_quantized_lr(feats, labels, "doc_id")

    fd = defaultdict(dict)
    for r in feats.collect():
        fd[r.doc_id][r.bucket] = r.cnt
    y = {r.doc_id: r.y for r in labels.collect()}
    n = len(y)
    w = [0] * 33
    for _ in range(6):
        grad = [0] * 33
        for did, c in fd.items():
            z = sum(cnt * w[b] for b, cnt in c.items())
            p = min(SCALE, max(0, SCALE // 2 + math.floor(z / 4.0)))
            r = p - y[did] * SCALE
            for b, cnt in c.items():
                grad[b] += cnt * r
        for b in range(33):
            w[b] -= math.floor(grad[b] / float(64 * n))
    assert w_spark == w


def test_training_learns_the_gate(spark):
    """On the real documents table the distilled length-gate classifier
    must beat the majority baseline decisively (simulated 0.95-0.97 at
    every sf; assert a safe 0.85 floor)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    labels = docs.select(
        "doc_id", (F.col("n_chars") >= 300).cast("int").alias("y")
    ).localCheckpoint(eager=True)
    feats = with_intercept(
        count_features(docs, "doc_id", "text"), labels, "doc_id"
    ).localCheckpoint(eager=True)
    w = train_quantized_lr(feats, labels, "doc_id")
    out = score_quantized_lr(feats, labels, "doc_id", w)
    r = out.agg(
        F.avg((F.col("pred") == F.col("y")).cast("double")).alias("acc"),
        F.greatest(F.avg("y"), 1 - F.avg("y")).alias("majority"),
    ).collect()[0]
    assert r.acc >= 0.85
    assert r.acc > r.majority + 0.2


def test_scoring_keeps_docs_without_features(spark):
    """A labeled doc absent from the feature frame scores z=0 (left join +
    coalesce), never drops."""
    labels = spark.createDataFrame([(1, 1), (2, 0)], "doc_id long, y int")
    feats = spark.createDataFrame(
        [(1, 0, 3)], "doc_id long, bucket long, cnt long"
    )
    out = {r.doc_id: r for r in score_quantized_lr(feats, labels, "doc_id", [5]).collect()}
    assert out[2].z == 0 and out[2].p == SCALE // 2
    assert out[1].z == 15


def test_empty_labels_guard(spark):
    feats = spark.createDataFrame([], "doc_id long, bucket long, cnt long")
    labels = spark.createDataFrame([], "doc_id long, y int")
    with pytest.raises(ValueError, match="empty label set"):
        train_quantized_lr(feats, labels, "doc_id")
