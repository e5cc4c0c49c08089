"""Z-order / compaction / pruning layout operators (operators/layout.py):
hand-computed Morton codes, bucket bounds, the write-layout plan shape,
and the first-fit compaction bins."""

from pyspark.sql import functions as F

from covid19_spark.operators.layout import (
    bucket_stats,
    buckets_touched,
    compaction_bins,
    int_bucket,
    morton_interleave,
    morton_interleave_sql,
)


def test_morton_interleave_hand_case(spark):
    # cb=0b011, db=0b101: cb bits land at even positions, db at odd ->
    # z = 1 + 2 + 4 + 32 = 39; cb=db=255 fills all 16 code bits
    df = spark.createDataFrame([(3, 5), (255, 255)], "cb long, db long")
    out = df.select(
        morton_interleave([F.col("cb"), F.col("db")]).alias("z")
    ).collect()
    assert [r.z for r in out] == [39, 65535]


def test_morton_sql_twin_matches_spark(spark):
    """The generated SQL replay must agree with the Column expression on
    every code in an 8-bit 2-D grid corner sample."""
    import duckdb

    rows = [(a, b) for a in (0, 1, 7, 128, 255) for b in (0, 3, 64, 200, 255)]
    df = spark.createDataFrame(rows, "cb long, db long")
    got = {
        (r.cb, r.db): r.z
        for r in df.select(
            "cb", "db", morton_interleave([F.col("cb"), F.col("db")]).alias("z")
        ).collect()
    }
    con = duckdb.connect()
    expr = morton_interleave_sql(["cb", "db"])
    for (a, b), z in got.items():
        assert con.execute(f"SELECT {expr} FROM (SELECT {a} cb, {b} db)").fetchone()[0] == z


def test_int_bucket_bounds_and_monotonicity(spark):
    df = spark.createDataFrame([(v,) for v in range(100, 131)], "x long")
    b = df.crossJoin(
        F.broadcast(df.agg(F.min("x").alias("mn"), F.max("x").alias("mx")))
    ).select("x", int_bucket(F.col("x"), F.col("mn"), F.col("mx"), 4).alias("b"))
    rows = sorted((r.x, r.b) for r in b.collect())
    assert rows[0][1] == 0 and rows[-1][1] == 15  # min -> 0, max -> top bucket
    assert all(b2 >= b1 for (_, b1), (_, b2) in zip(rows, rows[1:]))  # monotone


def test_compaction_bins_first_fit_hand_case(spark):
    files = spark.createDataFrame(
        [(1, 20000), (2, 30000), (3, 20000), (4, 40000)], "fid long, bytes long"
    )
    out = {
        r.fid: r.bin
        for r in compaction_bins(files, "bytes", ["fid"]).collect()
    }
    # 64 KiB target; cum_before: 0, 20000, 50000, 70000 -> bins 0, 0, 0, 1
    assert out == {1: 0, 2: 0, 3: 0, 4: 1}


def test_buckets_touched_overlap_semantics(spark):
    data = spark.createDataFrame(
        [(0, 0, 0), (0, 1, 1), (1, 10, 10), (2, 20, 25)], "f long, x long, y long"
    )
    stats = bucket_stats(data, "f", ["x", "y"])
    preds = spark.createDataFrame(
        [(1, 0, 5, 0, 5), (2, 9, 30, 9, 30), (3, 2, 8, 2, 8)],
        "pred_id int, xlo long, xhi long, ylo long, yhi long",
    )
    out = {
        r.pred_id: r.buckets_touched
        for r in buckets_touched(
            stats, preds, [("x", "xlo", "xhi"), ("y", "ylo", "yhi")]
        ).collect()
    }
    assert out == {1: 1, 2: 2}  # pred 3 overlaps nothing -> absent


def test_morton_width_guard(spark):
    """Positions past bit 62 would hit the sign bit / wrap mod 64 and alias
    distinct keys — the generators refuse instead (round-11 review fix)."""
    import pytest
    from covid19_spark.operators.layout import morton_interleave, morton_interleave_sql
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="63-bit"):
        morton_interleave([F.col("a")] * 8)  # 64 code bits
    with pytest.raises(ValueError, match="63-bit"):
        morton_interleave_sql(["a"] * 8)
    # 7 columns (56 code bits) is the widest legal interleave
    assert morton_interleave_sql(["a"] * 7).count("<<") == 56


def test_hilbert_bijective_and_continuous(spark):
    """The defining Hilbert properties on the full 256x256 grid: every
    cell gets a distinct code in [0, 65536) (bijection) and consecutive
    codes are grid NEIGHBORS (|dx|+|dy| == 1) — the continuity Z-order
    lacks."""
    from covid19_spark.operators.layout import hilbert_code

    df = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    got = {(r.x, r.y): r.h for r in hilbert_code(df, "x", "y").collect()}
    assert sorted(got.values()) == list(range(256 * 256))
    inv = {v: k for k, v in got.items()}
    for d in range(256 * 256 - 1):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_sql_twin_matches_spark(spark):
    """The generated nested-SELECT replay agrees with the Column walk on
    every cell of an 8-bit grid corner sample."""
    import duckdb

    from covid19_spark.operators.layout import hilbert_code, hilbert_sql

    rows = [(a, b) for a in (0, 1, 7, 128, 255) for b in (0, 3, 64, 200, 255)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.h for r in hilbert_code(df, "x", "y").collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE g AS SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in rows)
        + ") t(x,y)"
    )
    twin = {
        (x, y): h
        for x, y, h in con.execute(
            hilbert_sql("g", "x", "y", ["x", "y"])
        ).fetchall()
    }
    assert twin == got


def test_hilbert_locality_beats_morton_on_equal_cuts(spark):
    """Cut both curves over the 16x16 low corner of the grid (codes 0..255
    on both curves) into 16 equal files: the Hilbert files' summed
    per-dimension spans must be at most Morton's (continuity -> tighter
    footer stats on the same data)."""
    from pyspark.sql import functions as F

    from covid19_spark.operators.layout import hilbert_code, morton_interleave

    rows = [(a, b) for a in range(16) for b in range(16)]
    df = spark.createDataFrame(rows, "x long, y long")
    coded = hilbert_code(df, "x", "y").withColumn(
        "z", morton_interleave([F.col("x"), F.col("y")])
    )

    def span_total(col):
        return (
            coded.withColumn("f", F.floor(F.col(col) / 16))
            .groupBy("f")
            .agg(
                (F.max("x") - F.min("x") + F.max("y") - F.min("y")).alias("s")
            )
            .agg(F.sum("s"))
            .collect()[0][0]
        )

    assert span_total("h") <= span_total("z")


def test_hilbert_width_guard(spark):
    """Hilbert codes of the 256x256 grid fill exactly 2·Z_BITS = 16 bits:
    the curve starts at (0, 0) with code 0 and ends at the other bottom
    corner (255, 0) with code 65535, far inside the positive long range."""
    from covid19_spark.operators.layout import Z_BITS, hilbert_code

    corners = [(0, 0), (0, 255), (255, 255), (255, 0)]
    df = spark.createDataFrame(corners, "x long, y long")
    got = {(r.x, r.y): r.h for r in hilbert_code(df, "x", "y").collect()}
    assert got[(0, 0)] == 0
    assert got[(255, 0)] == (1 << 2 * Z_BITS) - 1 == 65535
    assert all(0 <= h < 1 << 2 * Z_BITS for h in got.values())


def test_file_bloom_no_false_skips_and_bounded(spark):
    """Bloom contract on a crafted layout: every file truly containing a
    probe key is touched (no false skips, ever); the words frame stays
    within BLOOM_BITS/32 rows per file."""
    from pyspark.sql import functions as F

    from covid19_spark.operators.layout import (
        BLOOM_BITS,
        file_bloom_words,
        files_bloom_touched,
    )

    rows = [(i % 4, 100 + (i * 7) % 50) for i in range(200)]
    files = spark.createDataFrame(rows, "file long, k long")
    words = file_bloom_words(files, "file", "k")
    per_file = words.groupBy("file").count().collect()
    assert all(r["count"] <= BLOOM_BITS // 32 for r in per_file)

    probes = spark.createDataFrame([(105,), (123,), (149,)], "k long")
    touched = {
        r.probe_key: r.bloom_files
        for r in files_bloom_touched(words, probes, "k").collect()
    }
    truth = {
        r.k: r.t
        for r in files.join(probes, "k")
        .groupBy("k")
        .agg(F.countDistinct("file").alias("t"))
        .collect()
    }
    for key, t in truth.items():
        assert touched.get(key, 0) >= t  # no false skip


def test_file_bloom_masks_stay_positive(spark):
    """32-bit lanes: no mask ever reaches the BIGINT sign bit (the DuckDB
    `1 << 63` overflow seam the lane width exists to avoid)."""
    from pyspark.sql import functions as F

    from covid19_spark.operators.layout import file_bloom_words

    rows = [(0, i) for i in range(500)]
    files = spark.createDataFrame(rows, "file long, k long")
    words = file_bloom_words(files, "file", "k")
    assert words.filter(F.col("bits") <= 0).count() == 0


def test_zrange_decompose_exact_coverage():
    """Decomposition within the 32-range budget covers EXACTLY the
    rectangle's Morton codes (exhaustive over each rectangle's cells)."""
    from covid19_spark.operators.layout import zrange_decompose

    def morton(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    for x0, x1, y0, y1 in [
        (0, 255, 0, 255), (0, 15, 0, 15), (0, 0, 0, 0), (3, 11, 5, 13),
        (1, 2, 14, 15), (200, 255, 64, 127),
        (127, 128, 127, 128),  # straddles the top-level quad split
    ]:
        ranges = zrange_decompose(x0, x1, y0, y1)
        covered = set()
        for lo, hi in ranges:
            assert lo <= hi
            covered |= set(range(lo, hi + 1))
        cells = {
            morton(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)
        }
        assert covered == cells
        # disjoint + coalesced: consecutive ranges never touch
        for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
            assert l2 > h1 + 1


def test_zrange_decompose_cap_overcovers_never_undercovers():
    from covid19_spark.operators.layout import zrange_decompose

    def morton(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    # this rectangle needs 28 exact ranges: the 32-range budget stops the
    # recursion early and over-covers
    ranges = zrange_decompose(3, 12, 2, 13)
    cells = {morton(x, y) for x in range(3, 13) for y in range(2, 14)}
    covered = set()
    for lo, hi in ranges:
        covered |= set(range(lo, hi + 1))
    assert cells < covered  # residual filter pays the difference


def test_zrange_decompose_guards():
    import pytest

    from covid19_spark.operators.layout import zrange_decompose

    with pytest.raises(ValueError, match="out of grid"):
        zrange_decompose(0, 256, 0, 3)
    with pytest.raises(ValueError, match="out of grid"):
        zrange_decompose(5, 4, 0, 3)
