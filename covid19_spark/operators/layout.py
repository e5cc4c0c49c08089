"""Data-layout optimization: Z-order clustering, compaction planning, and
a file-pruning cost model (VERDICT r10 stretch #8 — the serving-table
layout toolkit).

At 100 TB the dominant query cost is files TOUCHED, not rows scanned:
parquet readers skip whole files/row-groups whose min/max statistics
exclude the predicate. A single-column sort gives perfect pruning on that
column and none on any other; a Z-order (Morton) layout interleaves the
bits of several key columns so file boundaries approximate axis-aligned
tiles in the multi-dimensional key space — every interleaved column prunes
reasonably well (the standard lakehouse trade; Morton 1966, and the same
layout Delta/Iceberg expose as ``OPTIMIZE ZORDER BY``).

Everything here is expression-level (JVM-side, codegen-friendly) and
engine-portable: bucketization is ``floor((x − min) · 2^bits / span)`` on
exact-below-2^53 doubles and bit interleaving is integer shift/mask — the
identical arithmetic replays in DuckDB, which is what lets the registry
queries carry full value oracles (no fixtures).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

Z_BITS = 8  # bits per dimension of the Z-order / Hilbert grid (256 cells)
TARGET_BYTES = 65536  # 64 KiB compaction target


def int_bucket(col: Column, vmin: Column, vmax: Column, bits: int) -> Column:
    """Rank-free quantization of ``col`` into ``[0, 2^bits)``:
    ``floor((x − min) · 2^bits / (max − min + 1))`` — monotone, exact
    (the numerator stays far below 2^53 for any real key domain after the
    min shift), and needs only a broadcast one-row min/max, not a global
    sort. The +1 span makes x = max land in the top bucket without a
    clamp."""
    span = (vmax - vmin + F.lit(1)).cast("double")
    return F.floor(
        (col - vmin).cast("double") * F.lit(float(1 << bits)) / span
    ).cast("long")


def morton_interleave(cols: Sequence[Column]) -> Column:
    """Morton (Z-order) code: interleave the ``Z_BITS`` low bits of each
    input round-robin — column j's bit i lands at output position
    ``i·n_cols + j``, so consecutive codes walk a Z-shaped curve through
    the key grid. Pure shift/mask expression: ``n_cols × Z_BITS`` codegen'd
    integer terms, no UDF, no shuffle."""
    cols = list(cols)
    n = len(cols)
    if not cols:
        raise ValueError("morton_interleave requires at least one column")
    _check_morton_width(n)
    acc: Column | None = None
    for i in range(Z_BITS):
        for j, c in enumerate(cols):
            term = F.shiftleft(
                F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)), i * n + j
            )
            acc = term if acc is None else acc + term
    return acc.cast("long")


def _check_morton_width(n_cols: int) -> None:
    """The interleaved code must fit the POSITIVE range of a 64-bit long:
    bit position ``n_cols·Z_BITS − 1`` may not reach 63 (the sign bit
    breaks range ordering) and certainly not 64+ (JVM shift amounts wrap
    mod 64, silently COLLIDING distinct coordinates onto one code). Fail
    loudly instead: at most 7 columns interleave."""
    if n_cols * Z_BITS > 63:
        raise ValueError(
            f"morton: {n_cols} cols x {Z_BITS} bits = {n_cols * Z_BITS} code "
            "bits exceeds the 63-bit positive-long budget (JVM shifts wrap "
            "mod 64, which would alias distinct keys)"
        )


def morton_interleave_sql(col_names: Sequence[str]) -> str:
    """The EXACT DuckDB/ANSI replay of ``morton_interleave`` — generated
    from the same (i, j) walk so the two engines agree bit for bit; used
    by the registry oracles."""
    names = list(col_names)
    n = len(names)
    _check_morton_width(n)
    terms = [
        f"((({names[j]} >> {i}) & 1) << {i * n + j})"
        for i in range(Z_BITS)
        for j in range(n)
    ]
    return " + ".join(terms)


def compaction_bins(
    files: DataFrame,
    size_col: str,
    order_cols: Sequence[str],
) -> DataFrame:
    """Assign manifest rows (files) to compaction bins (``bin``): walk
    files in ``order_cols`` order, cut a new bin whenever the running byte
    total crosses ``TARGET_BYTES`` — ``bin = floor(cum_bytes_before / target)``,
    the streaming first-fit plan every table-maintenance service runs.

    Deliberately a GLOBAL-ORDER window: the input is a file MANIFEST
    (metadata — one row per file, millions of rows for a 100 TB table,
    i.e. MBs), not data rows; a single-partition window over it is the
    correct tool, the same contract class as the sanctioned driver-side
    collects. The division is exact below 2^53, so the identical
    expression replays in DuckDB."""
    w = (
        Window.orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(size_col).over(w) - F.col(size_col)
    return files.withColumn(
        "bin",
        F.floor(cum_before.cast("double") / F.lit(float(TARGET_BYTES))).cast("long"),
    )


def bucket_stats(
    df: DataFrame, bucket_col: str, stat_cols: Sequence[str]
) -> DataFrame:
    """Per-bucket min/max statistics — the file-footer stats a pruning
    reader consults, computed for a simulated layout. One partial-agg
    shuffle of |buckets| rows."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(bucket_col).agg(*aggs)


def buckets_touched(
    stats: DataFrame,
    predicates: DataFrame,
    ranges: Sequence[tuple[str, str, str]],
) -> DataFrame:
    """Pruning cost model: for each predicate row, count the buckets whose
    min/max stats OVERLAP every range — exactly the file-skipping decision
    a reader makes from footer statistics. ``ranges`` maps each stats
    column to the predicate's bounds: ``(stats_col, lo_col, hi_col)``.
    The predicate set is a literal workload (a handful of rows) —
    broadcast join against |buckets| stats rows, then one small agg."""
    cond = None
    for stat_col, lo, hi in ranges:
        c = (F.col(f"max_{stat_col}") >= F.col(lo)) & (
            F.col(f"min_{stat_col}") <= F.col(hi)
        )
        cond = c if cond is None else cond & c
    return (
        stats.crossJoin(F.broadcast(predicates))
        .filter(cond)
        .groupBy(*predicates.columns)
        .agg(F.count(F.lit(1)).alias("buckets_touched"))
    )


def _hilbert_level_exprs(s: int):
    """The (rx, ry, quadrant, next-x, next-y) arithmetic of one Hilbert
    xy2d level at sub-square size ``s`` in the ``2^Z_BITS``-side grid —
    written ONCE as floor-division/CASE logic shared verbatim by the
    Column builder and the SQL generator, so the engines cannot drift.
    (rx, ry) extraction avoids bit operators on purpose:
    ``floor(x / s) % 2`` is plain portable arithmetic, and the rotation
    reflects against the FULL grid side (``side − 1``), per the standard
    xy2d recurrence."""
    side = 1 << Z_BITS
    rx = f"(CAST(floor(__hx / {s}.0) AS BIGINT) % 2)"
    ry = f"(CAST(floor(__hy / {s}.0) AS BIGINT) % 2)"
    # d-contribution: s^2 * ((3*rx) XOR ry), spelled as the CASE square
    quad = (
        f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
        f"WHEN {rx} = 0 AND {ry} = 1 THEN 1 "
        f"WHEN {rx} = 1 AND {ry} = 1 THEN 2 "
        f"ELSE 3 END)"
    )
    # rotation: ry=1 -> unchanged; ry=0,rx=1 -> reflect both then swap;
    # ry=0,rx=0 -> swap only
    nx = (
        f"(CASE WHEN {ry} = 1 THEN __hx "
        f"WHEN {rx} = 1 THEN {side - 1} - __hy ELSE __hy END)"
    )
    ny = (
        f"(CASE WHEN {ry} = 1 THEN __hy "
        f"WHEN {rx} = 1 THEN {side - 1} - __hx ELSE __hx END)"
    )
    return quad, nx, ny


def hilbert_code(df: DataFrame, x: str, y: str) -> DataFrame:
    """Hilbert-curve index ``h`` of the 2-D grid cell (``x``, ``y``), both in
    ``[0, 2^Z_BITS)`` (quantize with ``int_bucket`` first): the standard
    iterative xy2d walk (one rotate/reflect step per bit level, MSB
    down), unrolled as ``Z_BITS`` chained projections — linear expression
    growth, whole-stage codegen'd, no UDF.

    Z-order (``morton_interleave``) jumps across the grid at every power-
    of-two boundary; the Hilbert curve is continuous (consecutive codes
    are always grid neighbors — pinned in tests), so equal-size file cuts
    get strictly tighter per-dimension min/max spans and the same zone-map
    pruning model (``bucket_stats``/``buckets_touched``) skips more files
    on 2-D predicates. The trade: ~4 CASE expressions per level instead
    of Morton's pure shift/mask — identical scan shape, slightly wider
    codegen."""
    # double-underscore work columns: a caller frame with its own hx/hy/hd
    # must not be clobbered by the unrolled walk
    work = df.withColumns(
        {
            "__hx": F.col(x).cast("long"),
            "__hy": F.col(y).cast("long"),
            "__hd": F.lit(0).cast("long"),
        }
    )
    for level in reversed(range(Z_BITS)):
        s = 1 << level
        quad, nx, ny = _hilbert_level_exprs(s)
        work = work.withColumns(
            {
                "__hd": F.expr(f"__hd + {s * s} * {quad}"),
                "__hx": F.expr(nx),
                "__hy": F.expr(ny),
            }
        )
    return work.withColumn("h", F.col("__hd").cast("long")).drop(
        "__hx", "__hy", "__hd"
    )


def hilbert_sql(src: str, x: str, y: str, carry: Sequence[str]) -> str:
    """The EXACT DuckDB/ANSI replay of ``hilbert_code``: the same per-level
    expressions (shared ``_hilbert_level_exprs``) stacked as nested
    SELECTs — one subquery per bit level, linear SQL growth. ``src`` is
    the inner relation (a CTE name or ``(subquery)``), ``carry`` the
    passthrough columns; the result exposes ``carry + [h]``."""
    keep = ", ".join(carry)
    cur = (
        f"SELECT {keep}, CAST({x} AS BIGINT) AS __hx, "
        f"CAST({y} AS BIGINT) AS __hy, CAST(0 AS BIGINT) AS __hd FROM {src}"
    )
    for level in reversed(range(Z_BITS)):
        s = 1 << level
        quad, nx, ny = _hilbert_level_exprs(s)
        cur = (
            f"SELECT {keep}, {nx} AS __hx, {ny} AS __hy, "
            f"__hd + {s * s} * {quad} AS __hd FROM ({cur})"
        )
    return f"SELECT {keep}, CAST(__hd AS BIGINT) AS h FROM ({cur})"


BLOOM_BITS = 8192  # per-file Bloom width, a multiple of the 32-bit lane
BLOOM_K = 3  # seeded positions per key


def _seeded_positions(df: DataFrame, keep: Sequence[str], key_col: str) -> DataFrame:
    """(keep..., seed, __pos) — one row per (input row, seed ordinal) with
    the md5-derived Bloom position.  The seed ordinal is EXPLODED first and
    the hex digest materialized as a real column before the 8-char ascii
    decode: inlining ``md5(...)`` into each of the 8 substring extractions
    (what a naive per-seed expression tree does) recomputes the digest 8×
    per position — measured 7.2 s → 1.2 s on a 150k-row build, the same
    subtree-re-inlining class as the SQ8 64× fix."""
    seeds = F.explode(F.array(*[F.lit(str(i)) for i in range(BLOOM_K)])).alias("seed")
    step = df.select(*keep, F.col(key_col).alias("__k"), seeds).withColumn(
        "__h", F.md5(F.concat_ws(":", "seed", F.col("__k").cast("string")))
    )
    # one conv() builtin decodes the 8 lowercase-hex chars — value-identical
    # to the ascii-arithmetic chain the DuckDB twin spells out, but ~100x
    # less generated code: the 8-level when-chain version compiled to a
    # Janino unit big enough that every FRESH plan paid ~4 s of JIT before
    # its first row (measured on bloom_pruning_gain; the whole-stage source
    # is not reused across plan instances)
    v = F.conv(F.substring("__h", 1, 8), 16, 10).cast("long")
    return step.select(*keep, "seed", F.pmod(v, F.lit(BLOOM_BITS)).alias("__pos"))


def file_bloom_words(
    df: DataFrame,
    file_col: str,
    key_col: str,
) -> DataFrame:
    """Per-file Bloom index over ``key_col``: ``(file, word, bits)`` rows,
    word = position div 32, bits = OR of the 32-bit-lane masks — the file-
    skipping structure for POINT LOOKUPS on a key the layout is NOT
    clustered by (where min/max zone maps prune nothing because every
    file spans the whole key domain; Parquet's column-index blooms and
    Delta's bloom index play exactly this role).

    ≤ BLOOM_BITS/32 words per file regardless of row count; ONE map +
    bit_or aggregate per file.  ``BLOOM_BITS`` is sized at ~10 bits per
    distinct key per file — an undersized filter silently degrades to "touch
    everything", never to wrong answers.

    Positions are md5-derived (ascii hex arithmetic — engine-portable,
    unlike xxhash64), seeded by prefixing the seed ordinal:
    position_i = md5_int(i || ':' || key) % BLOOM_BITS, for i < BLOOM_K.
    32-bit lanes (not 64) on purpose: the lane shift never reaches the
    BIGINT sign bit, which DuckDB refuses (`1::BIGINT << 63` raises
    Out of Range) — masks stay positive and identical in both engines.
    """
    pos = _seeded_positions(
        df.select(F.col(file_col).alias("file"), key_col), ["file"], key_col
    )
    return (
        pos.select(
            "file",
            (F.col("__pos") / 32).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(__pos % 32 as int))").alias("__mask"),
        )
        .groupBy("file", "word")
        .agg(F.expr("bit_or(__mask)").alias("bits"))
    )


def file_bloom_pos_sql(key_expr: str, seed: int) -> str:
    """DuckDB replay of one seeded position of :func:`file_bloom_words`."""
    from covid19_spark.operators.train import md5_bucket_sql

    return md5_bucket_sql(f"('{seed}:' || CAST({key_expr} AS VARCHAR))", BLOOM_BITS)


def files_bloom_touched(
    words: DataFrame,
    probes: DataFrame,
    key_col: str,
) -> DataFrame:
    """Bloom-skipping cost model: per probe key, the count of files whose
    per-file Bloom passes ALL ``BLOOM_K`` positions — the files a reader would
    actually open.  Probe positions broadcast-join the words frame on the
    word index; a file passes when every seed ordinal finds its bit set
    (count of DISTINCT matched seeds == BLOOM_K, robust to two seeds colliding
    onto one position).  No false skips by Bloom's contract."""
    pos = _seeded_positions(
        probes.select(F.col(key_col).alias("probe_key")), ["probe_key"], "probe_key"
    ).select(
        "probe_key",
        "seed",
        (F.col("__pos") / 32).cast("long").alias("word"),
        F.expr("shiftleft(1L, cast(__pos % 32 as int))").alias("mask"),
    )
    hits = (
        words.join(F.broadcast(pos), "word")
        .filter(F.col("bits").bitwiseAND(F.col("mask")) != 0)
        .groupBy("probe_key", "file")
        .agg(F.countDistinct("seed").alias("n_seeds"))
        .filter(F.col("n_seeds") == BLOOM_K)
    )
    return hits.groupBy("probe_key").agg(
        F.count(F.lit(1)).cast("long").alias("bloom_files")
    )


def zrange_decompose(x0: int, x1: int, y0: int, y1: int) -> "list[tuple[int, int]]":
    """Decompose the inclusive rectangle [x0..x1] × [y0..y1] of the
    ``Z_BITS`` grid into disjoint Morton-code ranges covering EXACTLY its
    cells — the quadtree walk behind every space-filling-curve spatial
    join: cells fully inside the rectangle emit their whole contiguous z-range, straddling cells
    recurse into 4 children.  Runs driver-side per QUERY rectangle (the
    contract-small side — a handful of integers each), and the ranges then
    broadcast against the point table's z column, where a z-sorted layout
    turns each range into parquet min/max file pruning.

    A budget of 32 ranges caps fragmentation by STOPPING the recursion
    early once it would overflow, emitting the whole (over-covering) cell
    range instead — callers keep the exact rectangle predicate as the
    residual filter, so over-coverage costs scan, never correctness.
    Deterministic pure-integer arithmetic; adjacent emitted ranges are
    coalesced."""
    side = 1 << Z_BITS
    if not (0 <= x0 <= x1 < side and 0 <= y0 <= y1 < side):
        raise ValueError("rectangle out of grid bounds")

    def morton(x: int, y: int) -> int:
        z = 0
        for i in range(Z_BITS):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    out: list[tuple[int, int]] = []
    # stack of quadtree cells: (cell_x, cell_y, cell_bits) — a cell spans
    # 2^cell_bits per side and its codes are one contiguous z block
    stack = [(0, 0, Z_BITS)]
    while stack:
        cx, cy, cb = stack.pop()
        cs = 1 << cb
        lo_x, lo_y = cx, cy
        hi_x, hi_y = cx + cs - 1, cy + cs - 1
        if hi_x < x0 or lo_x > x1 or hi_y < y0 or lo_y > y1:
            continue
        z_lo = morton(lo_x, lo_y)
        z_hi = z_lo + (1 << (2 * cb)) - 1
        fully_inside = x0 <= lo_x and hi_x <= x1 and y0 <= lo_y and hi_y <= y1
        if fully_inside or cb == 0 or len(out) + len(stack) >= 32:
            out.append((z_lo, z_hi))
            continue
        half = cs // 2
        for dx in (0, half):
            for dy in (0, half):
                stack.append((cx + dx, cy + dy, cb - 1))
    out.sort()
    merged: list[tuple[int, int]] = []
    for lo, hi in out:
        if merged and lo == merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], hi)
        else:
            merged.append((lo, hi))
    return merged
